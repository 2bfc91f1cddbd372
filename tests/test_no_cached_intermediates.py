"""The datapipe operators cache nothing: each one is a single plan.

A self-join reads its shared subtree on both sides and Spark plans the
second read as a ReusedExchange of the first, so no operator persists an
intermediate that a caller would have to free. The check is the
session's CacheManager (what `persist`/`cache` register), not
`getPersistentRDDs()`: `connected_components` truncates its iterative
lineage with `localCheckpoint`, whose RDDs show up there by design.
"""

from __future__ import annotations

import re

SF = "/root/testdata/sf0.001"


def _final_plan(df) -> str:
    # the adaptive plan prints its final plan before the initial one
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_datapipe_operators_leave_no_cache_and_reuse_exchanges(spark):
    import __spark_entry__ as entry
    from beats_spark.datapipe.dedup import (
        dedup_transitive,
        dup_span_stats,
        minhash_dedup,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        simhash,
        simhash_near_pairs,
    )
    from beats_spark.datapipe.packing import pack_sequences
    from beats_spark.datapipe.similarity import embedding_near_dupes

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    sc = spark.sparkContext
    sc.setJobGroup("pack-build", "building the packing plan")
    try:
        manifest = pack_sequences(docs, budget=512)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("pack-build") == []  # plan only

    plans = {}
    for name, df in {
        "minhash_dedup": minhash_dedup(docs),
        "dedup_transitive": dedup_transitive(docs),
        "simhash_near_pairs": simhash_near_pairs(simhash(docs)),
        "ngram_jaccard_pairs": ngram_jaccard_pairs(docs, threshold=0.4),
        "embedding_near_dupes": embedding_near_dupes(emb, threshold=0.3, p_bits=6, dim=64),
        "dup_span_stats": dup_span_stats(docs, window=15),
        "pack_sequences": manifest,
        "q_ann_lsh_topk": entry.q_ann_lsh_topk(spark, SF),
        "q_text_signals": entry.q_text_signals(spark, SF),
        "minhash_lsh_candidates": minhash_lsh_candidates(docs),
    }.items():
        df.collect()
        plans[name] = _final_plan(df)
    assert _cache_empty(spark)

    for name in ("minhash_lsh_candidates", "embedding_near_dupes"):
        assert "ReusedExchange" in plans[name], plans[name]
        assert "InMemoryTableScan" not in plans[name], plans[name]
    # the corpus is read (and tokenized) once
    for name in ("dup_span_stats", "pack_sequences"):
        assert len(re.findall(r"FileScan parquet", plans[name])) == 1, plans[name]

