"""Seeded input generator: an `events` table shaped like the repo's
fixture, turned into a multi-file transcripts table by `synth`.

The seed picks user ids, timestamps, event types and values; the
properties the pipeline depends on come from `synth`'s event-id residues
and so hold for every seed: conv-00000000 owns 5 % of the turns, about
10 % of the lines are malformed and about 7 % carry a convert poison.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SPAN_SECONDS = 30 * 24 * 3600  # the fixture's 30 days, from 2024-01-01
USERS_PER_EVENT = 0.015  # the fixture's 150 users per 10k events


def _unit(seed: int, salt: int) -> F.Column:
    """Uniform [0, 1) from a hash of (seed, salt, id): the same seed gives
    the same value for an id however the range is partitioned."""
    h = F.pmod(F.xxhash64(F.lit(seed), F.lit(salt), F.col("id")), F.lit(1 << 40))
    return h.cast("double") / float(1 << 40)


def events(spark: SparkSession, n: int, seed: int):
    step = SPAN_SECONDS / n
    users = max(1, int(n * USERS_PER_EVENT))
    offset = (F.col("id") + _unit(seed, 1)) * F.lit(step)  # monotone in id
    return spark.range(n, numPartitions=4).select(
        F.col("id").alias("event_id"),
        # NTZ like the fixture's parquet timestamps (session time zone is UTC)
        F.timestamp_micros(((F.lit(1704067200.0) + offset) * 1e6).cast("long"))
        .cast("timestamp_ntz")
        .alias("ts"),
        (_unit(seed, 2) * users).cast("long").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in EVENT_TYPES]),
            (_unit(seed, 3) * len(EVENT_TYPES)).cast("int") + 1,
        ).alias("event_type"),
        # exponential, mean 50: about 5 % above the 'warn' cut of 150
        F.round(-50.0 * F.log(F.lit(1.0) - _unit(seed, 4)), 2).alias("value"),
    )


def materialize(spark: SparkSession, work_dir: str, n: int, seed: int, files: int) -> str:
    """Write `{work_dir}/events.parquet`, then the transcripts table as
    `files` parquet files under `{work_dir}/transcripts`; return its path."""
    from beats_spark import synth

    events(spark, n, seed).write.mode("overwrite").parquet(os.path.join(work_dir, "events.parquet"))
    out = os.path.join(work_dir, "transcripts")
    return synth.materialize_transcripts(spark, work_dir, out, replicas=1, files=files)


def table_stats(path: str) -> tuple[int, int]:
    """(parquet file count, total bytes) of a written table."""
    sizes = [
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    ]
    return len(sizes), sum(sizes)
