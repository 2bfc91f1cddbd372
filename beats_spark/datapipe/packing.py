"""Distributed sequence packing for training-data pipelines.

`pack_sequences` is the GPT-style packing step every pretraining run
performs between curation and the data loader: lay the corpus's token
stream out in ONE deterministic order and cut it into fixed-budget
training sequences, letting documents span sequence boundaries (no
padding waste; the loader masks across the boundary or not — policy
outside this op). The output is the packing MANIFEST — one row per
(document × sequence) span — which downstream assembly joins back to
the text / token arrays. Every sequence except the last is exactly
`budget` tokens by construction, so fill ratio is
total_tokens / (n_sequences × budget) → 1.

Determinism: documents are ordered by (48-bit md5 hash of id, id) — the
same corpus-layout-independent, engine-portable hash family as
sampling.hash_split, so the packing is a pure function of the corpus
content: reruns, retries, engine swaps, and cluster-size changes all
produce byte-identical manifests (the property a resumable pipeline
needs — a doc must never move between sequences across reruns).

Scale design — the global running offset is a DISTRIBUTED prefix sum,
not a single-task window:

  1. bucket the order key into FIXED-WIDTH ranges: the key is a uniform
     48-bit hash, so `_pid = key div ceil(2^48/P)` is an
     order-preserving, balanced bucket id computed map-side — no
     repartitionByRange (whose RangePartitioner costs a sampling pass
     and draws nondeterministic boundaries that would force a persist);
  2. one window partitioned by the bucket id (its hash exchange is the
     only row-weight shuffle in the plan) gives each document its
     intra-bucket running sum and its bucket's token total;
  3. the P bucket totals aggregate from that window's output and
     prefix-sum in a P-row global window into per-bucket BASE offsets,
     which broadcast-join back on the bucket id. Both consumers of the
     window read one exchange (the second is a ReusedExchange), so the
     corpus is tokenized once, nothing is cached and building the plan
     runs no Spark job.

A bare `Window.orderBy(...)` with no partitionBy computes the same
result on ONE task — correct at test scale, a straggler that serializes
the whole corpus through one core at 100 TB. A pytest oracle pins the
two paths equal on the same input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _HASH_MOD, _hash_int


def packing_offsets(
    df: DataFrame,
    n_tokens_col: str,
    id_col: str = "doc_id",
    seed: str = "pack",
    num_partitions: int | None = None,
    distributed: bool = True,
) -> DataFrame:
    """(id, n_tokens, tok_start): each document's global token offset
    under the deterministic hash order. Zero/negative-token documents
    are dropped (nothing to pack). `distributed=False` selects the
    single-task global window — the test oracle for the prefix-sum
    path, never the plan you want at scale."""
    base = (
        df.select(F.col(id_col), F.col(n_tokens_col).cast("long").alias("_nt"))
        .where(F.col("_nt") > 0)
        .withColumn("_k", _hash_int(F.col(id_col), seed))
    )
    if not distributed:
        w = Window.orderBy("_k", id_col)
        return base.select(
            id_col,
            F.col("_nt").alias("n_tokens"),
            (F.sum("_nt").over(w) - F.col("_nt")).alias("tok_start"),
        )
    p = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # Bucket by FIXED-WIDTH ranges of the 48-bit order hash instead of
    # repartitionByRange (r5 one-off finding): the RangePartitioner
    # costs a whole sampling pass over the input, and its sampled
    # boundaries are nondeterministic. _k is uniform by construction, so
    # _pid = _k div ceil(2^48 / p) is an order-preserving, balanced
    # bucket id computed MAP-SIDE: no sampling job, deterministic
    # placement, and the only row-weight exchange is the window's own
    # hash exchange on _pid.
    width = (_HASH_MOD + p - 1) // p
    base = base.withColumn("_pid", F.expr(f"_k div {width}").cast("int"))
    w = Window.partitionBy("_pid").orderBy("_k", id_col)
    ran = base.select(
        id_col,
        "_pid",
        "_nt",
        (F.sum("_nt").over(w) - F.col("_nt")).alias("_local"),
        F.sum("_nt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_ptot"),
    )
    # P rows: the groupBy rides the window's _pid partitioning, then a
    # global running sum turns the bucket totals into bucket bases.
    # The join is a left join so that no isnotnull(_pid) filter is
    # inferred into the probe side alone: both sides then read the same
    # exchange and the second is a ReusedExchange.
    wp = Window.orderBy("_pid")
    bases = (
        ran.groupBy("_pid")
        .agg(F.max("_ptot").alias("_ptot"))
        .select("_pid", (F.sum("_ptot").over(wp) - F.col("_ptot")).alias("_base"))
    )
    return ran.join(F.broadcast(bases), "_pid", "left").select(
        id_col,
        F.col("_nt").alias("n_tokens"),
        (F.col("_base") + F.col("_local")).alias("tok_start"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens: Column | str | None = None,
    seed: str = "pack",
    num_partitions: int | None = None,
    distributed: bool = True,
) -> DataFrame:
    """Packing manifest: (seq_id, id, doc_tok_start, doc_tok_end,
    seq_offset) — document tokens [doc_tok_start, doc_tok_end) land in
    sequence seq_id starting at seq_offset. `n_tokens` overrides the
    default whitespace token_count with a precomputed count column (a
    real tokenizer's lengths ride in the same way).

    A document spans ceil over the budget grid: rows-out ∝ total tokens
    / budget + docs — proportional to the manifest itself, nothing
    quadratic. The only row-weight shuffle is the _pid window of the
    prefix sum; the span explode is map-side."""
    if budget <= 0:
        raise ValueError("pack_sequences: budget must be positive")
    from .text import token_count

    if n_tokens is None:
        nt = token_count(F.col(text_col))
    elif isinstance(n_tokens, str):
        nt = F.col(n_tokens)
    else:
        nt = n_tokens
    offs = packing_offsets(
        df.select(F.col(id_col), nt.alias("_n")),
        "_n",
        id_col=id_col,
        seed=seed,
        num_partitions=num_partitions,
        distributed=distributed,
    )
    # INTEGER grid division: Column `/` on longs is double true-division,
    # whose 53-bit mantissa misplaces floor() near grid boundaries once
    # total tokens approach 2^53 — silently wrong manifests at exactly
    # the corpus scale this module is for (r5 review). `div` is exact
    # integral division at any long.
    first = F.expr(f"tok_start div {int(budget)}")
    last = F.expr(f"(tok_start + n_tokens - 1) div {int(budget)}")
    spans = offs.select(
        id_col,
        "n_tokens",
        "tok_start",
        F.explode(F.sequence(first, last)).alias("seq_id"),
    )
    seq_lo = F.col("seq_id") * budget
    span_lo = F.greatest(F.col("tok_start"), seq_lo)
    span_hi = F.least(F.col("tok_start") + F.col("n_tokens"), seq_lo + budget)
    return spans.select(
        F.col("seq_id").cast("long"),
        F.col(id_col),
        (span_lo - F.col("tok_start")).cast("long").alias("doc_tok_start"),
        (span_hi - F.col("tok_start")).cast("long").alias("doc_tok_end"),
        (span_lo - seq_lo).cast("long").alias("seq_offset"),
    )


def assemble_sequences(
    manifest: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: Column | str = "text",
) -> DataFrame:
    """Manifest → the packed sequences themselves: (seq_id, tokens).

    `tokens_col` is the document's token ARRAY column, or a text column
    name (whitespace-split like token_count — a real tokenizer's output
    array rides in the same way). Each manifest span slices its
    document's tokens [doc_tok_start, doc_tok_end) and the spans of a
    sequence concatenate in seq_offset order.

    Scale shape: ONE equi-join of the manifest against the docs table
    on id (manifest rows ∝ tokens/budget + docs) and ONE groupBy(seq_id)
    whose collect_list is bounded by `budget` tokens per group — no
    window, no skew (every group is the same size by construction). The
    struct-sort trick keeps span order without a per-group window."""
    from .text import strip_ws, token_count

    if isinstance(tokens_col, str):
        dt = dict(docs.dtypes).get(tokens_col, "")
        toks = (
            F.col(tokens_col)
            if dt.startswith("array")
            else F.when(
                token_count(F.col(tokens_col)) > 0, F.split(strip_ws(F.col(tokens_col)), r"\s+")
            ).otherwise(F.array().cast("array<string>"))
        )
    else:
        toks = tokens_col
    d = docs.select(F.col(id_col), toks.alias("_toks"))
    sliced = manifest.join(d, id_col).select(
        "seq_id",
        "seq_offset",
        F.slice(
            F.col("_toks"),
            (F.col("doc_tok_start") + 1).cast("int"),
            (F.col("doc_tok_end") - F.col("doc_tok_start")).cast("int"),
        ).alias("_span"),
    )
    return (
        sliced.groupBy("seq_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq_offset", "_span"))),
                    lambda s: s.getField("_span"),
                )
            ).alias("tokens")
        )
    )


def packing_stats(manifest: DataFrame, budget: int) -> DataFrame:
    """One-row summary of a packing manifest: sequence count, token
    count, fill ratio (== 1 except the final partial sequence), and the
    max spans-per-sequence (a skew canary: every sequence holds
    budget/median-doc-tokens spans, so a huge value means degenerate
    token counts, not packing bugs)."""
    per_seq = manifest.groupBy("seq_id").agg(
        F.sum(F.col("doc_tok_end") - F.col("doc_tok_start")).alias("toks"),
        F.count(F.lit(1)).alias("spans"),
    )
    return per_seq.agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.sum("toks").alias("total_tokens"),
        F.round(
            F.sum("toks") / (F.count(F.lit(1)) * F.lit(float(budget))), 6
        ).alias("fill_ratio"),
        F.max("spans").alias("max_spans_per_seq"),
    )


def mix_and_pack(
    df: DataFrame,
    budget: int,
    weights,
    stratum_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens: Column | str | None = None,
    seed: str = "mix",
    num_partitions: int | None = None,
) -> DataFrame:
    """The end-to-end training-mix step: per-source epoch weights →
    deterministic repetition → budget-sized packed sequences, i.e.
    `weighted_repeat` composed with `pack_sequences`.

    Each copy gets its own packing identity `<id>#<repeat_idx>` (the
    manifest's id_col) so copies of one document land at independent,
    deterministic positions in the token stream — repeated epochs are
    spread by the md5 layout order rather than adjacent. The manifest
    carries `src_<id_col>` and `repeat_idx` columns to join back to the
    original corpus (assemble against the REPEATED frame, or strip the
    suffix and join the original). Everything stays deterministic and
    engine-replayable: the same corpus + weights + seed produce the
    same manifest on every run and every parallelism (the
    pack_sequences invariance).

    Scale shape: weighted_repeat is map-side (explode); packing adds
    its own distributed prefix sum. Nothing new shuffles."""
    from .sampling import weighted_repeat

    rep = weighted_repeat(
        df, weights, stratum_col=stratum_col, key_col=id_col, seed=seed
    )
    rep = rep.withColumn(
        "_mix_id",
        F.concat(F.col(id_col).cast("string"), F.lit("#"), F.col("repeat_idx")),
    )
    manifest = pack_sequences(
        rep,
        budget,
        id_col="_mix_id",
        text_col=text_col,
        n_tokens=n_tokens,
        seed=seed,
        num_partitions=num_partitions,
    )
    parts = F.split(F.col("_mix_id"), "#")
    # a string id may itself contain '#': the repeat index is the LAST
    # '#'-part; the source id is everything before it
    n = F.size(parts)
    src = F.array_join(F.slice(parts, 1, n - 1), "#")
    return manifest.select(
        "*",
        src.alias(f"src_{id_col}"),
        F.element_at(parts, -1).cast("int").alias("repeat_idx"),
    )
