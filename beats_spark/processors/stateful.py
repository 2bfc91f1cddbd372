"""Stateful / windowed operators (SURVEY.md §2.7).

rate_limit   ratelimit/rate_limit.go:45-100 (token_bucket per key)
multiline    reader/multiline/{pattern,counter,while}.go — each mode only
             decides where an event starts; one fold (_message_buffer,
             message_buffer.go) joins, caps and flags for all three
timeseries   processors/timeseries (instance hash of dimensions)

Batch semantics: the token bucket's steady state admits `limit` events
per period per key; the batch analog is row_number() over
(key, time-bucket) ≤ limit in arrival (ts, turn_idx) order. The
streaming variant (streaming/rate_limit.py) reuses the same keying.

Scale notes:
  * rate_limit is skew-safe via Spark's WindowGroupLimit (see its
    docstring: the map-side top-`limit` pre-filter bounds a hot key's
    shuffle to limit × map-partitions rows — r6 removed the redundant
    salted pre-cap phase and its extra exchange+sort).
  * multiline (and sessionize in aggregates.py) are ORDER-DEPENDENT
    per-key folds — they cannot be salted without changing semantics
    (a group may span any two adjacent rows). Constraint at scale: one
    key's rows land in one task. With the 5%-hot-conversation synth this
    is bounded by WindowGroupLimit-free sorts of that key's rows only;
    for truly pathological keys, pre-partition the INPUT by
    (conv_id, days(ts)) so a key's state is bounded per day — multiline
    events never straddle days in log practice, and the reference's
    reader has the same per-file sequential constraint
    (reader/multiline runs inside one harvester goroutine).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..events import FLAG_MULTILINE, FLAG_TRUNCATED, FLAGS_COL


def _ordered_join(order_col: str, text_col: str, sep: str):
    """collect_list is unordered — sort by the order key inside the array
    (struct sort on first field) before joining, preserving the per-file
    offset-order guarantee of the reference reader (session.go:220)."""
    pairs = F.array_sort(
        F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t")))
    )
    return F.array_join(F.transform(pairs, lambda s: s["t"]), sep).alias(text_col)


_RATE_UNITS = {"s": "1 second", "m": "1 minute", "h": "1 hour", "d": "1 day"}


def rate_limit(
    key_fields: list[str],
    limit: int | str,
    period: str = "1 minute",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
):
    """Keep at most `limit` events per key per period-bucket; drop the rest.

    `limit` also accepts the reference's rate-string form ('100/m',
    ratelimit/rate.go) — '<N>/<s|m|h|d>' sets both limit and period.

    Skew note (r6: the salted pre-cap phase was REMOVED): Spark ≥3.5
    plans a `row_number() ≤ limit` filter as WindowGroupLimit, which
    pre-filters each MAP partition to its own top-`limit` rows per
    (key, bucket) BEFORE the exchange. A hot key therefore shuffles at
    most limit × map-partitions rows and its reduce task sorts that
    bounded set — the same bound the r5 two-phase salted form achieved,
    without its extra exchange (on a table not already partitioned by
    `key`, the salted window shuffled the full input TWICE) and extra
    sort.
    """
    if isinstance(limit, str):
        import re

        m = re.fullmatch(r"(\d+)\s*/\s*([smhd])", limit)
        if not m:
            raise ValueError(f"rate_limit: bad rate string {limit!r} (want e.g. '100/m')")
        limit, period = int(m.group(1)), _RATE_UNITS[m.group(2)]

    def stage(df: DataFrame) -> DataFrame:
        bucket = F.window(F.col(ts_col), period).getField("start")
        order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or ["turn_idx"]) if c in df.columns]
        keys = [F.col(k) for k in key_fields]
        w = Window.partitionBy(*keys, bucket).orderBy(*order)
        return (
            df.withColumn("_rl_rn", F.row_number().over(w))
            .filter(F.col("_rl_rn") <= limit)
            .drop("_rl_rn")
        )

    return stage


def _event_ids(boundary: Column, groups, order_col: str) -> Column:
    """Event id = running sum of boundary flags over (group, order) — the
    session-grouping window idiom for the reader's sequential loop."""
    w = Window.partitionBy(*groups).orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    return F.sum(boundary.cast("int")).over(w)


def _gap_boundary(groups, order_col: str, ts_col: str, timeout_seconds: float) -> Column:
    """flush-on-idle (pattern.go:88-94; while.go:63-69 wraps the same
    TimeoutReader): a gap larger than the timeout starts a new logical
    event even mid-continuation — the wall-clock idle flush becomes an
    event-time gap split. unix_micros via an explicit TIMESTAMP cast:
    parquet columns arrive as TIMESTAMP_NTZ, which has no direct
    numeric cast."""
    w = Window.partitionBy(*groups).orderBy(order_col)
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp")) / 1e6
    gap = epoch - F.lag(epoch, 1).over(w)
    return F.coalesce(gap, F.lit(0.0)) > timeout_seconds


def _message_buffer(
    df: DataFrame,
    event_id: Column,
    groups,
    order_col: str,
    text_col: str,
    sep: str,
    max_lines: int | None,
    max_content_bytes: int | None,
    ts_col: str | None = None,
) -> DataFrame:
    """message_buffer.go — the fold every multiline mode shares; a mode
    only decides where an event starts (`event_id`). One row per event
    (groups, first order_col, [min ts_col], ordered join of the lines,
    n_lines, member-flag union).

    `max_lines` (None: no cap): an oversized event keeps its FIRST
    max_lines lines, drops the rest and carries the truncated flag — no
    sub-split into extra events. finalize() (:126-134): the `multiline`
    flag when more than one line contributed; `max_content_bytes` caps
    the JOINED content (separators count, like addLine's space
    accounting) with the truncated flag, via truncate_fields' UTF-8-safe
    byte cut. Every window shares the group-key partitioning, so the
    fold adds no exchange beyond the one the groups need."""
    df = df.withColumn("_ml_grp", event_id)
    empty = F.array().cast("array<string>")
    if FLAGS_COL in df.columns:
        flags = F.flatten(F.collect_list(F.coalesce(F.col(FLAGS_COL), empty)))
    else:
        flags = empty
    if max_lines is not None:
        wg = Window.partitionBy(*groups, "_ml_grp").orderBy(order_col)
        wsz = Window.partitionBy(*groups, "_ml_grp")
        df = (
            df.withColumn("_ml_rn", F.row_number().over(wg))
            .withColumn("_ml_sz", F.count(F.lit(1)).over(wsz))
            .filter(F.col("_ml_rn") <= max_lines)
        )
        trunc = F.when(F.max("_ml_sz") > max_lines, F.array(F.lit(FLAG_TRUNCATED))).otherwise(empty)
        flags = F.concat(flags, trunc)
    # keep the TS COLUMN THE STAGE READS (a custom ts_col must not be
    # replaced by a NULL literal 'ts')
    first_ts = []
    if ts_col is not None:
        first_ts = [F.min(ts_col).alias(ts_col) if ts_col in df.columns else F.lit(None).alias(ts_col)]
    agg = (
        df.groupBy(*groups, "_ml_grp")
        .agg(
            F.min(order_col).alias(order_col),
            *first_ts,
            _ordered_join(order_col, text_col, sep),
            F.count(F.lit(1)).alias("n_lines"),
            flags.alias(FLAGS_COL),
        )
        .drop("_ml_grp")
    )
    ml = F.when(F.col("n_lines") > 1, F.array(F.lit(FLAG_MULTILINE))).otherwise(empty)
    agg = agg.withColumn(FLAGS_COL, F.concat(F.col(FLAGS_COL), ml))
    if max_content_bytes is not None:
        from .actions import truncate_fields

        agg = truncate_fields([text_col], max_bytes=max_content_bytes)(agg)
    # dedup LAST: truncate_fields may append a 'truncated' the member
    # lines already carried
    return agg.withColumn(FLAGS_COL, F.array_distinct(F.col(FLAGS_COL)))


def multiline_pattern(
    pattern: str,
    match: str = "after",
    negate: bool = False,
    group_cols: list[str] | None = None,
    order_col: str = "turn_idx",
    text_col: str = "text",
    max_lines: int = 500,
    sep: str = "\n",
    timeout_seconds: float | None = None,
    ts_col: str = "ts",
    flush_pattern: str | None = None,
    max_content_bytes: int | None = None,
):
    """multiline/pattern.go:44-129 — join physical lines into logical events.

    A line L is a *continuation* when (pattern matches L) XOR negate —
    with match='after' the flag applies to the line itself; with
    match='before' a matching line joins the FOLLOWING line's group.
    `flush_pattern` (pattern.go:44-129): a line matching it is the LAST
    line of its event — the event flushes immediately and the next line
    starts a new one regardless of continuation state. The event keeps
    the first line's order and ts; the rest is the shared message
    buffer (`_message_buffer`: joined text, line count, max_lines cap,
    flags).
    """
    groups = group_cols or ["conv_id"]

    def stage(df: DataFrame) -> DataFrame:
        w0 = Window.partitionBy(*groups).orderBy(order_col)
        matches = F.col(text_col).rlike(pattern)
        is_continuation = ~matches if negate else matches
        if match == "after":
            boundary = ~is_continuation
        else:  # 'before': line joins the following one ⇒ boundary when the PREVIOUS line did not match
            prev_cont = F.lag(is_continuation, 1, False).over(w0)
            boundary = ~F.coalesce(prev_cont, F.lit(False))
        if flush_pattern is not None:
            prev_flush = F.lag(F.col(text_col).rlike(flush_pattern), 1, False).over(w0)
            boundary = boundary | F.coalesce(prev_flush, F.lit(False))
        if timeout_seconds is not None:
            boundary = boundary | _gap_boundary(groups, order_col, ts_col, timeout_seconds)
        return _message_buffer(
            df, _event_ids(boundary, groups, order_col), groups, order_col, text_col, sep,
            max_lines, max_content_bytes, ts_col=ts_col,
        )

    return stage


def multiline_count(
    count: int,
    group_cols: list[str] | None = None,
    order_col: str = "turn_idx",
    text_col: str = "text",
    max_lines: int | None = None,
    sep: str = "\n",
    max_content_bytes: int | None = None,
):
    """multiline/counter.go — join every N lines through the shared
    message buffer. A positive `max_lines` below `count` overrides the
    buffer cap (counter.go:41-43): the reader still consumes `count`
    lines per event, but only the first max_lines are kept and the
    event carries the truncated flag; otherwise nothing can be capped
    and the fold skips the cap windows."""
    groups = group_cols or ["conv_id"]
    cap = max_lines if max_lines is not None and 0 < max_lines < count else None

    def stage(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*groups).orderBy(order_col)
        event_id = ((F.row_number().over(w) - 1) / count).cast("int")
        return _message_buffer(df, event_id, groups, order_col, text_col, sep, cap, max_content_bytes)

    return stage


def multiline_while(
    pattern: str,
    negate: bool = False,
    group_cols: list[str] | None = None,
    order_col: str = "turn_idx",
    text_col: str = "text",
    max_lines: int = 500,
    sep: str = "\n",
    timeout_seconds: float | None = None,
    ts_col: str = "ts",
    max_content_bytes: int | None = None,
):
    """multiline/while.go — join CONSECUTIVE lines while pattern matches;
    a non-matching line is its own single-line event. max_lines
    (while.go:57-59) and the timeout (while.go:63-69, the same gap split
    as pattern mode) apply, and the shared message buffer does the rest:
    an oversized run keeps its FIRST max_lines lines + truncated flag."""
    groups = group_cols or ["conv_id"]

    def stage(df: DataFrame) -> DataFrame:
        matches = F.col(text_col).rlike(pattern)
        in_run = ~matches if negate else matches
        w0 = Window.partitionBy(*groups).orderBy(order_col)
        prev_in_run = F.lag(in_run, 1, False).over(w0)
        # boundary: not in a run, or run just started
        boundary = (~in_run) | (in_run & ~F.coalesce(prev_in_run, F.lit(False)))
        if timeout_seconds is not None:
            boundary = boundary | _gap_boundary(groups, order_col, ts_col, timeout_seconds)
        return _message_buffer(
            df, _event_ids(boundary, groups, order_col), groups, order_col, text_col, sep,
            max_lines, max_content_bytes,
        )

    return stage


def dimensions_from_mapping(fields: list[dict]) -> tuple[dict, list[str]]:
    """timeseries.go populateDimensions/isDimension — derive the
    dimension name set and prefix list from a mapping.Fields-shaped
    spec: [{'name', 'type', 'dimension' (bool|None), 'overwrite',
    'object_type', 'fields' (nested group)}]. Rules: keyword fields are
    dimensions by default; `dimension` overrides; `type: object` marks
    a PREFIX (trailing '*' trimmed, '.' appended) that is a dimension
    when object_type is keyword; the FIRST definition of a name wins
    unless a later one sets overwrite."""
    dims: dict[str, bool] = {}
    prefixes: dict[str, bool] = {}

    def is_dim(f: dict) -> bool:
        if f.get("dimension") is None:
            return f.get("type") == "keyword" or (
                f.get("type") == "object" and f.get("object_type") == "keyword"
            )
        return bool(f["dimension"])

    def walk(prefix: str, fs: list[dict]) -> None:
        for f in fs:
            name = f["name"] if not prefix else f"{prefix}.{f['name']}"
            if f.get("fields"):
                walk(name, f["fields"])
                continue
            if f.get("type") == "object":
                name = name.rstrip("*")
                if not name.endswith("."):
                    name += "."
                if name not in prefixes or f.get("overwrite"):
                    prefixes[name] = is_dim(f)
            else:
                if name not in dims or f.get("overwrite"):
                    dims[name] = is_dim(f)

    walk("", fields)
    return (
        {k: v for k, v in dims.items() if v},
        [k for k, v in prefixes.items() if v],
    )


def is_dimension_field(name: str, dims: dict, prefixes: list[str]) -> bool:
    """timeseries.go isDimension lookup: exact name, else prefix match."""
    return name in dims or any(name.startswith(p) for p in prefixes)


def timeseries_instance(
    dimension_fields: list[str], target: str = "timeseries_instance", method: str = "xxhash64"
):
    """timeseries processor — stable hash of ordered dimension values.

    method='xxhash64' (default, cheapest JVM hash) or 'md5' of the
    '|'-joined ordered values — the engine-portable form the DuckDB
    oracle can replicate (xxhash64 exists only in Spark).

    method='hashstructure' (r5): BYTE-COMPATIBLE with the reference's
    gohugoio/hashstructure v0.5.0 Hash of the dimension map
    (timeseries.go:56-61), validated against timeseries_test.go's golden
    uint64s. Algorithm (derived from the goldens + the public
    mitchellh/hashstructure design): FNV-1 64 leaf hashes (int64/float64
    little-endian, bool as int8, strings raw bytes), per-entry
    FNV-1(LE(keyhash)||LE(valuehash)), XOR across entries, one finishing
    FNV-1(LE(h)). NULL dimensions are ABSENT keys (Flatten() skips
    them). Arrow-batched Python — the opt-in parity path, not the hot
    default; emitted as the decimal string of the uint64 (Spark has no
    unsigned 64-bit type)."""

    def stage(df: DataFrame) -> DataFrame:
        cols = [F.col(f"`{c}`") for c in sorted(dimension_fields)]
        if method == "hashstructure":
            from pyspark.sql.functions import pandas_udf

            names = sorted(dimension_fields)

            @pandas_udf("string")
            def hs(s: pd.DataFrame) -> pd.Series:
                import math
                import struct

                M = (1 << 64) - 1

                def fnv1(data: bytes) -> int:
                    h = 14695981039346656037
                    for b in data:
                        h = ((h * 1099511628211) & M) ^ b
                    return h

                def leaf(v) -> int:
                    if isinstance(v, bool):
                        return fnv1(struct.pack("<b", 1 if v else 0))
                    if isinstance(v, (int,)):
                        return fnv1(struct.pack("<q", int(v)))
                    if isinstance(v, float):
                        return fnv1(struct.pack("<d", v))
                    return fnv1(str(v).encode())

                def one(row) -> str:
                    h = 0
                    for k in names:
                        v = row[k]
                        if v is None or (isinstance(v, float) and math.isnan(v)):
                            continue
                        if hasattr(v, "item"):
                            v = v.item()  # numpy scalar → Python
                        pair = struct.pack("<Q", leaf(k)) + struct.pack("<Q", leaf(v) & M)
                        h ^= fnv1(pair)
                    return str(fnv1(struct.pack("<Q", h)))

                return pd.Series([one(row) for _, row in s.iterrows()])

            h = hs(F.struct(*[c.alias(n) for c, n in zip(cols, sorted(dimension_fields))]))
        elif method == "md5":
            h = F.md5(F.concat_ws("|", *[c.cast("string") for c in cols]))
        else:
            h = F.xxhash64(*cols)
        return df.withColumn(target, h)

    return stage
