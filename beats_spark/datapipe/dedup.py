"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the part that matters at 100 TB):
  * exact_dedup: one hash-shuffle on the 16-byte digest, not the text —
    shuffle bytes ∝ rows, not corpus size.
  * minhash_lsh: signatures are computed map-side as pure Column
    expressions (array_min over xxhash64-transformed shingle arrays — no
    UDF, no explode of the corpus); only (band_hash → doc_id) pairs are
    shuffled, then candidate pairs are verified with exact Jaccard.
    Shuffle volume ∝ rows × bands, independent of document length.
  * simhash: explode(tokens) + 64 conditional sums per doc — one shuffle
    keyed by doc_id; bit arithmetic stays in codegen.
  * ngram_jaccard_pairs: candidate generation via shared-shingle join is
    quadratic in the worst case — always feed it LSH/blocking output at
    scale; provided standalone for small blocks and verification.
  * all three candidate generators cap each bucket/block at
    max_bucket_rows before the self-join (run exact_dedup first; the cap
    affects recall only — see _cap_buckets).
  * connected_components defaults to alternating large-star/small-star
    rounds (Kiveris et al. 2014): O(log² N) rounds worst-case regardless
    of component diameter, one bounded driver action per round; min-label
    propagation is retained as its property-test oracle.
  * no cached intermediates: every operator is one plan, and no result
    depends on a persist that someone else must free. Each self-join
    (bucket, block, key and SRP tables; jaccard_verify's pairs and
    shingles) reads its shared subtree twice in the logical plan, and
    Spark 4.1 plans the second read as a ReusedExchange of the first,
    so the subtree runs once (checked per site in the executed plan).
    Where there is no exchange to reuse (dup_span_stats), the operator
    is one chain of windows over a single explode instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bind1(expr: Column, body) -> Column:
    """Evaluate `expr` ONCE per row and pass it to `body` as a bound
    lambda variable: element_at(transform(array(expr), body), 1).

    Why (r6 optimization, guide §4.1/§7.2): a lambda passed to a
    higher-order function (transform/filter/...) that references an
    OUTER expression re-evaluates that expression for EVERY element —
    Catalyst substitutes the full subtree into the lambda body, so
    `transform(idx, i -> substr(norm, i, n))` re-runs the whole
    lower+regexp_replace+trim chain per gram. Binding the expression as
    a one-element array's lambda variable makes every inner reference an
    O(1) variable lookup. Measured on the sf1 bench corpus: word-gram
    hashing 36.4→4.1 s, char-gram hashing 143→16.7 s, bit-identical
    output."""
    return F.element_at(F.transform(F.array(expr), body), 1)


def shingles(col: Column, n: int = 5, word: bool = False) -> Column:
    """Distinct character (default) or word n-gram array of normalized text.

    Word mode emits ONLY full n-grams: a text with fewer than n words
    yields an empty array (no sub-n pseudo-gram), so consumers like
    ngram_decontaminate honour the documented "at least one word n-gram"
    contract — short benchmark lines never collide on their whole text
    (r3 ADVICE). Char mode keeps the whole-text fallback for sub-n texts
    (standard MinHash practice: a short doc still gets a signature)."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    if word:

        def grams_of(tk: Column) -> Column:
            idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
            return F.when(
                F.size(tk) >= n,
                F.transform(idx, lambda i: F.array_join(F.slice(tk, i + 1, n), " ")),
            ).otherwise(F.array().cast("array<string>"))

        grams = _bind1(F.split(norm, " "), grams_of)
    else:

        def grams_of(nm: Column) -> Column:
            ln = F.length(nm)
            # r6 session 2: ONE compiled-regex pass — a zero-width
            # lookahead capture per position, `(?s)(?=(.{n}))` — replaces
            # the per-position interpreted HOF substr chain. Measured 4×
            # on the 20×-sf0.1 corpus (char-5-gram hash projection
            # 37.1 → 9.2 s best-of-6 interleaved), gram arrays
            # bit-identical including order (array_distinct keeps first
            # occurrence in both forms; the regex engine enumerates
            # positions left-to-right exactly like the index sequence).
            # (?s) is required: \s+ normalization does NOT collapse
            # U+0085/U+2028/U+2029, and without DOTALL `.` stops at them,
            # silently dropping grams that span one.
            #
            # Supplementary-plane guard: Java regex walks code UNITS, so
            # on astral chars (emoji) the lookahead also matches at lone
            # low-surrogate positions and emits extra surrogate-split
            # grams, while substr walks code POINTS. Rows containing any
            # char ≥ U+10000 therefore take the original substr path —
            # for BMP-only text one code unit IS one code point, so the
            # two forms are provably identical (pytest pins both classes).
            idx = F.sequence(F.lit(1), F.greatest(ln - n + 1, F.lit(1)))
            hof = F.transform(idx, lambda i: nm.substr(i, F.lit(n)))
            rx = F.regexp_extract_all(nm, F.lit(f"(?s)(?=(.{{{n}}}))"), 1)
            astral = nm.rlike(r"[\x{10000}-\x{10FFFF}]")
            # ln >= n null-propagates for NULL text into the otherwise
            # branch: array(nm) = [NULL], the exact old behavior (the
            # md5 seed family hashes that row as md5('seed') — changing
            # it would move null-text docs between buckets)
            return F.when(ln >= n, F.when(astral, hof).otherwise(rx)).otherwise(
                F.array(nm)
            )

        grams = _bind1(norm, grams_of)
    return F.array_distinct(grams)


# -- exact -------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content hash (hash-groupBy dedup)."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# -- MinHash + LSH -----------------------------------------------------------


def _seeded_hash(s: Column, seed: int, method: str) -> Column:
    """Seeded per-shingle hash. 'xxhash64' (default, cheapest JVM path) or
    'md5' — hex STRINGS compared lexicographically, which is an equally
    uniform min-hash family AND replicable in DuckDB (the oracle engine
    has no xxhash64); VERDICT round-1 item 6."""
    if method == "md5":
        return F.md5(F.concat_ws(":", F.lit(str(seed)), s))
    return F.xxhash64(s, F.lit(seed))


def minhash_signature(
    col: Column, num_perm: int = 32, n: int = 5, hash_method: str = "xxhash64"
) -> list[Column]:
    """num_perm min-hashes: min over shingles of hash(shingle, seed=i).

    Pure Column (array_min ∘ transform) — evaluated in codegen per row.
    NOTE: each returned expression embeds its own shingles() subtree, and
    Spark does not CSE it across select items — materialize the shingle
    array in a prior projection and build the signatures from that column
    when computing many signatures (measured 6× at 32 perms; see
    minhash_lsh_candidates)."""
    sh = shingles(col, n)
    return [
        F.array_min(F.transform(sh, lambda s: _seeded_hash(s, i, hash_method)))
        for i in range(num_perm)
    ]


def _cap_buckets(df: DataFrame, bucket_cols: list[str], id_col: str, cap: int | None) -> DataFrame:
    """Per-bucket row cap (embedding_near_dupes pattern, similarity.py).

    A bucket self-join is O(rows²) per bucket; pretraining corpora are
    duplicate-heavy (boilerplate pages repeated 10⁴-10⁶×) and an m-copy
    identical-doc cluster shares EVERY band/block, so one uncapped bucket
    can be 10¹⁰ pairs in a single task. The cap bounds any bucket's join
    to cap² pairs and — under the exact-dedup-first contract (run
    exact_dedup before near-dup candidate generation so identical docs
    are already collapsed) — only affects recall, never precision:
    verification (exact Jaccard / Hamming) follows candidate generation.
    Ordering by id keeps the capped survivor set deterministic and keeps
    the minimum-id representative, so keep-lowest-id dedup policies see
    the same representatives. The window's partition key equals the join
    key, so the Exchange is reused by the join — the cap adds a sort
    within each bucket partition, not an extra shuffle.
    """
    if cap is None:
        return df
    w = Window.partitionBy(*bucket_cols).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= cap).drop("_rn")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    n: int = 5,
    hash_method: str = "xxhash64",
    max_bucket_rows: int | None = 4096,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded MinHash buckets.

    Scale contract: run exact_dedup FIRST (identical docs share every
    band; the per-bucket cap then only trims pathological near-dup
    megaclusters, affecting recall only — see _cap_buckets)."""
    rows = num_perm // bands
    # materialize the shingle array ONCE per row, then derive all
    # num_perm min-hashes from the materialized column — embedding
    # shingles() in every signature expression makes the normalizing
    # regex+split run num_perm times per row (measured ~2× wall on the
    # md5 family at 32 perms)
    withsh = df.select(F.col(id_col), shingles(F.col(text_col), n).alias("_sh"))
    sig = [
        F.array_min(F.transform(F.col("_sh"), lambda s: _seeded_hash(s, i, hash_method)))
        for i in range(num_perm)
    ]
    if hash_method == "md5":
        band_cols = [
            F.md5(F.concat_ws("|", *sig[b * rows : (b + 1) * rows])).alias(f"_band{b}")
            for b in range(bands)
        ]
    else:
        band_cols = [
            F.xxhash64(*sig[b * rows : (b + 1) * rows]).alias(f"_band{b}") for b in range(bands)
        ]
    withb = withsh.select(F.col(id_col), *band_cols)
    # (band_idx, band_hash) → bucket join; only ids shuffle.
    buckets = withb.select(
        id_col,
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("b"), F.col(f"_band{b}").alias("h")) for b in range(bands)])
        ).alias("bk"),
    ).select(id_col, "bk.b", "bk.h")
    buckets = _cap_buckets(buckets, ["b", "h"], id_col, max_bucket_rows)
    # both self-join sides read the cap window's (b, h) exchange: the
    # second is a ReusedExchange, so the shingle+signature subtree — the
    # dominant cost — runs once (Spark 4.1 executed plan)
    a = buckets.alias("a")
    bdf = buckets.alias("bq")
    pairs = (
        a.join(bdf, (F.col("a.b") == F.col("bq.b")) & (F.col("a.h") == F.col("bq.h")))
        .filter(F.col(f"a.{id_col}") < F.col(f"bq.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"bq.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs; keep ≥ threshold.

    Scale shape (r4): shingles are computed ONLY for documents that
    appear in a candidate pair (candidates ≪ corpus after LSH), and
    that reduced (id, shingles) table is computed once — the naive
    form shingled the ENTIRE corpus twice (once per join side), which
    at design scale is 2× corpus regex cost for a verification step
    that touches a fraction of the documents. The candidate pairs and
    the shingle table are each read twice in the plan; both second
    reads are ReusedExchanges, so neither is computed twice."""
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionAll(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # one exchange of the shingle table for both verify joins: the
    # second reads it as a ReusedExchange, and AQE sees its real size,
    # so a small table is broadcast instead of shuffling shingle arrays
    # with every candidate pair. A rebalance, not a repartition: the
    # rows are already hash-partitioned by id after the `ids` join, so
    # a repartition on id is planned away and the shingles would be
    # computed inside each verify join.
    sh = (
        df.join(ids, id_col)
        .select(F.col(id_col), shingles(F.col(text_col), n).alias("sh"))
        .hint("rebalance", id_col)
    )
    # |A∪B| by inclusion-exclusion instead of materializing array_union
    # (r6 session 2): shingles() outputs are array_distinct by
    # construction, so |A∪B| = |A| + |B| − |A∩B| EXACTLY (holds for the
    # [NULL] null-text singleton too: array_intersect treats the null
    # elements as equal). Same integers → same double division → same
    # round — all candidate jaccard values verified bit-identical
    # (57,275 pairs, threshold-0 sweep). Drops one O(|A|+|B|)
    # hash-set build per candidate pair; the verify stage is the
    # dominant cost of the direct ngram_jaccard path (measured
    # 75.7 → 53.3 s best-of-3 at the sf0.1 5k-doc shape).
    # both sides join `sh` on its own id column (no rename between the
    # exchange and the join), so both read the same exchange
    sa, sb = sh.alias("sa"), sh.alias("sb")
    n_int = F.size(F.array_intersect("sa.sh", "sb.sh"))
    j = (
        pairs.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(
                n_int / (F.size("sa.sh") + F.size("sb.sh") - n_int).cast("double"), 6
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    n: int = 5,
    threshold: float = 0.8,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Drop near-duplicates: every id_b of a verified pair is removed
    (keep-lowest-id policy, transitive via repeated pair edges)."""
    cands = minhash_lsh_candidates(df, text_col, id_col, num_perm, bands, n, hash_method)
    verified = jaccard_verify(df, cands, text_col, id_col, n, threshold)
    dupes = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dupes, on=id_col, how="left_anti")


# -- SimHash ------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", hash_method: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per document — explode tokens, packed bit-count
    sums, reassemble; all JVM-side, one doc_id shuffle.

    hash_method='md5' derives bit b from hex nibble b//4 of md5(token)
    (bit-in-nibble b%4) — replicable in the DuckDB oracle.

    r6 aggregation shape: instead of 64 per-bit ±1 conditional sums
    (64 × shift+mask+compare+CASE per token), each token's 64-bit hash
    is split into 32 two-lane accumulators — lane j packs the counts of
    bit j (low 32 bits) and bit j+32 (high 32 bits) of one sum via
    `(h >> j) & 0x0000000100000001` — plus one token count. Bit b of
    the simhash is set iff 2·count_b > n_tokens, which is exactly the
    old `sum(±1) > 0` decision, so simhash values are bit-identical
    with ~4× less per-token aggregate work. Lanes cannot carry into
    each other below 2^31 tokens per doc (count_b ≤ n_tokens)."""
    # (A fully map-side variant — 32 F.aggregate folds over the
    # token-hash array, zero exchange — was tried and measured 3×
    # SLOWER: higher-order aggregate evaluation is interpreted per step,
    # while the explode feeds a codegen'd hash aggregate. Negative
    # result recorded; the explode+groupBy stays.)
    #
    # (A 16-lane variant — 4×16-bit fields per long via
    # & 0x0001000100010001 — was prototyped and REJECTED (r6 session 2).
    # Unguarded it is ~20% faster on the lane aggregation (2.24 vs
    # 2.67 s at the sf1 shape) but WRONG for big documents, and under
    # Spark 4's default ANSI mode it does not even fail soft: the packed
    # long overflows and THROWS once a doc reaches 2^15 tokens (top
    # 16-bit field × 2^48 exceeds Long.MAX), well before the 2^16
    # field-carry bound. The exact guard — try_sum lanes, persist the
    # sums, route _n ≥ 2^15 docs through this 32-lane path via a
    # broadcast semi-join — measured consistently SLOWER than plain
    # 32-lane (2.83–3.24 vs 2.22–2.38 s best-of-5 interleaved): the
    # persist materialization plus the always-planned fallback subtree
    # (AQE does not elide the empty-broadcast branch here) cost more
    # than lane-halving saves. 32 two-lane counters stay; they are exact
    # to 2^31 tokens/doc.)
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    )
    if hash_method == "md5":
        # assemble the 64-bit value whose bit b is (nibble b//4 >> b%4)&1:
        # v = Σ_i nib_i · 2^(4i) places hex nibble i at bits 4i..4i+3
        h = F.md5("tok")
        v = F.lit(0).cast("bigint")
        for i in range(16):
            nib = F.conv(F.substring(h, i + 1, 1), 16, 10).cast("bigint")
            v = v + F.shiftleft(nib, 4 * i)
        toks = toks.withColumn("h64", v)
    else:
        toks = toks.withColumn("h64", F.xxhash64("tok"))

    lane_mask = F.lit(0x0000000100000001).cast("bigint")
    sums = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftrightunsigned(F.col("h64"), j).bitwiseAND(lane_mask)).alias(f"_l{j}")
            for j in range(32)
        ],
    )
    low32 = F.lit((1 << 32) - 1).cast("bigint")

    def count_of(b: int) -> Column:
        lane = F.col(f"_l{b % 32}")
        return F.shiftrightunsigned(lane, 32) if b >= 32 else lane.bitwiseAND(low32)

    sim = F.lit(0).cast("bigint")
    for b in range(64):
        sim = sim + F.when(
            count_of(b) * 2 > F.col("_n"),
            F.lit(1).cast("bigint") * (2**b if b < 63 else -(2**63)),
        ).otherwise(0)
    return sums.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_rows: int | None = 4096,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over 4×16-bit block index
    (pigeonhole: ≤3 differing bits ⇒ at least one identical block).

    Scale note (VERDICT r2 fix): candidate generation is a UNION of four
    per-block EQUI-joins — one hash-partitioned join per 16-bit block —
    not a single join on an OR of block equalities. Catalyst cannot
    extract equi-join keys from a disjunction (that form plans as a
    nested-loop/cartesian join, O(N²) at corpus scale); the union form
    plans as 4 shuffle-hash/sort-merge joins, each shuffling only
    (block, id, simhash), then dedups pairs found in >1 block.

    Scale contract: run exact_dedup first; identical docs share all 4
    blocks, so a hot 16-bit block value would otherwise self-join
    quadratically — max_bucket_rows caps each block bucket
    (see _cap_buckets)."""
    # r6 plan shape: the r5 form ran FOUR separate self-joins (one per
    # 16-bit block) each with its own per-side bucket-cap window — 8
    # exchanges + 8 window sorts + 4 joins. Exploding the 4 blocks into
    # (id, simhash, block_idx, block_val) rows turns that into ONE
    # bucket-cap window + ONE self-join keyed on (block_idx, block_val)
    # — the cap window's exchange key equals the join key, so the plan
    # is 2 exchanges total. Candidate set is identical: a pair sharing
    # block i appears exactly under key (i, value), and the per-(i,val)
    # cap is the same per-block cap as before.
    blocks = sims.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("h"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.b").alias("_bi"), F.col("bk.h").alias("_blk"))
    blocks = _cap_buckets(blocks, ["_bi", "_blk"], id_col, max_bucket_rows)
    # the self-join reads this table on BOTH sides; the second side is
    # a ReusedExchange of the first, so the upstream simhash
    # explode+aggregate runs once over the corpus (Spark 4.1 executed
    # plan)
    a, b = blocks.alias("a"), blocks.alias("b")
    cands = (
        a.join(b, ["_bi", "_blk"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
    )
    return cands.filter(F.col("hamming") <= max_hamming).dropDuplicates(["id_a", "id_b"])


# -- n-gram Jaccard (direct) ---------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    max_shingles_for_blocking: int = 8,
    hash_method: str = "xxhash64",
    max_bucket_rows: int | None = 4096,
) -> DataFrame:
    """All pairs ≥ threshold via shared-minimal-shingle blocking:
    block key = the k smallest shingle hashes per doc (a doc pair with
    Jaccard ≥ t shares one of the union's minima with high probability —
    exact verification follows, so blocking only affects recall).

    Scale contract: run exact_dedup first; max_bucket_rows caps each
    shared-shingle block's self-join (see _cap_buckets)."""
    sh = df.select(F.col(id_col), shingles(F.col(text_col), n).alias("sh"))
    keyed = sh.select(
        id_col,
        F.explode(
            F.slice(
                F.array_sort(
                    F.transform(F.col("sh"), lambda s: _seeded_hash(s, 0, hash_method))
                ),
                1,
                max_shingles_for_blocking,
            )
        ).alias("key"),
    )
    keyed = _cap_buckets(keyed, ["key"], id_col, max_bucket_rows)
    # one (id, key) blocking table for both join sides — the second is
    # a ReusedExchange, as in minhash_lsh_candidates
    a, b = keyed.alias("a"), keyed.alias("b")
    cands = (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return jaccard_verify(df, cands, text_col, id_col, n, threshold)


# -- transitive clustering (connected components) ------------------------------


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    id_col: str = "doc_id",
    algorithm: str = "star",
) -> DataFrame:
    """Cluster near-dup pair edges transitively: returns (node, cluster_id)
    where cluster_id = the minimum id reachable through the pair graph.

    algorithm='star' (default): alternating large-star/small-star rounds
    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
    Components in MapReduce and Beyond", SoCC 2014). Converges in
    O(log² N) rounds REGARDLESS of component diameter — the right shape
    for 10^12-edge dedup graphs, where min-label propagation's
    O(diameter) rounds is unbounded on chain-shaped components. Each
    round is two groupBy-min aggregations + two joins keyed on node ids
    only; one bounded driver action pair per round checks edge-set
    convergence.

    algorithm='propagation': min-label propagation — each round every
    node takes the min of its own label and its neighbors' labels;
    O(component diameter) rounds. Kept as the property-test ORACLE for
    the star variant (simpler to reason about; refuses loudly rather
    than returning split clusters when diameter > max_iters).
    """
    if algorithm == "star":
        return _cc_star(pairs, max_iters, id_col)
    if algorithm == "propagation":
        return _cc_propagation(pairs, max_iters, id_col)
    raise ValueError(f"unknown connected_components algorithm: {algorithm!r}")


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set normal form: (src=min, dst=max), no self-loops,
    distinct."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _cc_star(pairs: DataFrame, max_iters: int, id_col: str) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014, Alg. 2/3).

    large-star: symmetrize edges; per node u with neighborhood Γ(u), let
    m = min(Γ(u) ∪ {u}); emit edge (v, m) for every v ∈ Γ(u) with v > u.
    small-star: orient each edge toward its larger endpoint (key u, value
    v < u); let m = min(N(u)); emit (u, m) and (v, m) for v ∈ N(u)\\{m}.
    Both steps preserve connectivity and only ever decrease the partner
    ids; at the joint fixpoint the edge set is a union of stars centered
    on each component's minimum id. Convergence = edge-set equality
    (count + one-sided exceptAll — exact, not a checksum), one bounded
    action pair per round; localCheckpoint truncates the iterative
    lineage so the plan stays constant-size.
    """
    # node inventory BEFORE self-loop removal: a node appearing only in
    # self-loop pairs must still come back as its own singleton cluster
    # (the propagation oracle's contract; r4 review)
    nodes = (
        pairs.select(F.col("id_a").alias("node"))
        .unionAll(pairs.select(F.col("id_b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = _canonical_edges(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    ).localCheckpoint(eager=True)
    prev_cnt = edges.count()
    converged = False
    for _ in range(max_iters):
        # large-star
        sym = edges.unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("_m"))
        mins = mins.select("src", F.least("src", "_m").alias("_m"))
        large = _canonical_edges(
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        )
        # small-star (input already oriented src=min < dst=max)
        smins = large.groupBy("dst").agg(F.min("src").alias("_m"))
        e_center = smins.select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        e_leaves = (
            large.join(smins, "dst")
            .filter(F.col("src") != F.col("_m"))
            .select(F.col("src"), F.col("_m").alias("dst"))
        )
        new = _canonical_edges(e_center.unionAll(e_leaves)).localCheckpoint(eager=True)
        new_cnt = new.count()
        same = new_cnt == prev_cnt and new.exceptAll(edges).isEmpty()
        edges, prev_cnt = new, new_cnt
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components(star) did not converge in {max_iters} "
            "rounds — raise max_iters (worst case is O(log² N) rounds)"
        )
    # fixpoint edges are stars (src = component min, dst = member)
    labels = edges.select(F.col("dst").alias("node"), F.col("src").alias("label")).unionAll(
        edges.select(F.col("src").alias("node"), F.col("src").alias("label"))
    )
    labels = labels.groupBy("node").agg(F.min("label").alias("label"))
    # self-loop-only nodes have no star edge — they label themselves
    labels = nodes.join(labels, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def _cc_propagation(pairs: DataFrame, max_iters: int, id_col: str) -> DataFrame:
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint(eager=True)
    changed = -1  # keeps the non-convergence message valid for max_iters <= 0
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new = (
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # silent non-convergence returns WRONG (split) clusters — refuse
        # (r3 review). A component with diameter > max_iters needs more
        # rounds or the large-star/small-star variant.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — raise max_iters"
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def dedup_transitive(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    n: int = 5,
    threshold: float = 0.8,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """MinHash near-dup removal with TRANSITIVE cluster semantics: verified
    pairs are clustered via connected_components and only the minimum-id
    document of each cluster survives (a-b + b-c drops b AND c even when
    a-c itself is below threshold — the chain policy real training-data
    dedup uses, vs minhash_dedup's per-edge drop)."""
    cands = minhash_lsh_candidates(df, text_col, id_col, num_perm, bands, n, hash_method)
    pairs = jaccard_verify(df, cands, text_col, id_col, n, threshold)
    cc = connected_components(pairs, id_col=id_col)
    return df.join(
        cc.filter(F.col(id_col) != F.col("cluster_id")).select(id_col),
        on=id_col,
        how="left_anti",
    )


# -- benchmark decontamination -------------------------------------------------


def _word_gram_hashes(col: Column, n: int, hash_method: str, seed: int = 0) -> Column:
    """Hashed word n-grams, joined-string form (array_join per gram →
    seeded hash).

    RECORDED NEGATIVE RESULT (VERDICT r4 item 7, measured r5): two
    string-free variants were A/B'd at the sf1 bench shape (500k docs,
    interleaved reps, same session) against this form and both LOST —
    (a) per-token xxhash64 then xxhash64 over the n-element SLICE of the
    token-hash array: 42.6-47.1 s vs 34.1-36.1 s (+25%) — array-typed
    hashing + the per-gram slice allocation cost more than the ~13-word
    string it avoids building; (b) multi-arg xxhash64 over 13
    element_at() lookups per gram: >10 min (killed). Spark's UTF8String
    hashing is simply the fastest payload for this explode, so the
    joined-string gram stays. Full numbers in BENCH/BASELINE.md.
    """
    return F.transform(
        shingles(col, n, word=True), lambda s: _seeded_hash(s, seed, hash_method)
    )


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Pretraining decontamination: flag every training document sharing
    at least one word n-gram with the evaluation/benchmark corpus (the
    standard 13-gram collision rule, GPT-3 appendix C / PaLM §7).

    Scale shape: both sides reduce to (ngram_hash) sets map-side (word
    shingles → seeded hash, no text leaves the scan); the benchmark side
    is distinct-hashed and BROADCAST (eval suites are tiny next to the
    corpus), so the check is one broadcast semi-join — no corpus shuffle.
    Returns docs + `contaminated` boolean + `n_hits` (distinct colliding
    n-grams). Drop with `.filter(~F.col('contaminated'))`.
    """
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_word_gram_hashes(F.col(text_col), n, hash_method))
        ).alias("_g"),
    )
    bench_grams = (
        benchmark.select(
            F.explode(_word_gram_hashes(F.col(bench_text_col), n, hash_method)).alias("_g")
        )
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    min_count: int = 2,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Exact repeated-substring coverage, the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    substring-dedup signal at word granularity: for every document, the
    fraction of its tokens covered by some length-`window` token span
    whose hash occurs >= `min_count` times CORPUS-WIDE (intra-document
    repeats count — a doc that repeats its own boilerplate twice is
    self-contaminating, exactly like the suffix-array formulation).

    Returns (id, n_tokens, dup_tokens, dup_fraction). Filter/trim
    downstream: `.filter(F.col('dup_fraction') < 0.5)` or feed the dup
    spans to a cutter.

    Scale shape: one chain over one explode (n_tokens - window + 1
    positional hashes per doc, hashes of joined-string grams — the
    measured-fastest payload, see _word_gram_hashes): a count window
    partitioned by hash marks the `count >= min_count` positions, a
    per-doc ordered window takes the interval-union coverage, and one
    groupBy(id) on the same partitioning sums it. The gram transform
    runs once over the corpus and nothing is cached. Every gram row
    (id, n_tokens, pos, hash — no text) crosses the hash exchange; only
    the hot ones, plus one row per doc, cross the id exchange. No
    driver actions, no per-row Python.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.split(norm, " ")
    nt = F.when(F.length(norm) > 0, F.size(toks)).otherwise(F.lit(0))

    # bind the token array once per row (r6: an outer `toks` reference
    # inside the positional-gram lambda re-ran the normalize+split chain
    # per gram — see _bind1)
    def posgrams_of(tk: Column) -> Column:
        return F.when(
            F.size(tk) >= window,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - window),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    _seeded_hash(
                        F.array_join(F.slice(tk, i + 1, window), " "), 0, hash_method
                    )
                    .cast("string")
                    .alias("h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:long,h:string>>"))

    posgrams = _bind1(toks, posgrams_of)

    # one row per positional gram, plus one NULL-gram row for a doc
    # shorter than the window so every doc reaches the final groupBy;
    # n_tokens is projected before the explode so that its normalize
    # runs once per doc, not once per gram
    rows = (
        df.select(F.col(id_col), nt.alias("n_tokens"), posgrams.alias("_pg"))
        .select(id_col, "n_tokens", F.explode_outer("_pg").alias("g"))
        .select(id_col, "n_tokens", F.col("g.pos").alias("_pos"), F.col("g.h").alias("_h"))
    )
    # corpus-wide count per hash in place of a groupBy + join back; the
    # NULL-gram rows are spread over their ids so that short docs do not
    # all land in one partition
    w_h = Window.partitionBy("_h", F.when(F.col("_h").isNull(), F.col(id_col)))
    hot = F.col("_h").isNotNull() & (F.count(F.lit(1)).over(w_h) >= min_count)
    # only the hot spans cross the per-doc exchange, plus each doc's
    # first row (position 0, or its NULL-gram row) so that every doc
    # still reaches the groupBy
    rows = rows.withColumn("_end", F.when(hot, F.col("_pos") + window)).where(
        F.col("_end").isNotNull() | (F.coalesce(F.col("_pos"), F.lit(0)) == 0)
    )

    # interval-union coverage over the hot spans in position order; a
    # row that is not hot has a NULL _end and contributes nothing
    w_ord = Window.partitionBy(id_col).orderBy("_pos")
    prev_end = F.max("_end").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.col("_end") - F.greatest(F.col("_pos"), F.coalesce(prev_end, F.lit(0).cast("long"))),
    )
    # the groupBy shares the window's id partitioning: no further exchange
    per_doc = (
        rows.withColumn("_cv", contrib)
        .groupBy(id_col)
        .agg(F.max("n_tokens").alias("n_tokens"), F.sum("_cv").alias("dup_tokens"))
    )
    dup = F.coalesce(F.col("dup_tokens"), F.lit(0))
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        dup.cast("long").alias("dup_tokens"),
        F.when(F.col("n_tokens") > 0, dup / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("dup_fraction"),
    )
