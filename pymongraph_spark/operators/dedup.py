"""Deduplication operators for training-data pipelines.

Five tiers, all shuffle-frugal by construction:

- exact_dedup           — hash-groupBy on a normalized content hash.
- token_jaccard_pairs   — exact Jaccard over shingle sets, candidates from
                          a prefix-filtered join (_prefix_meetings, shared
                          with containment_pairs).
- minhash_lsh_pairs     — MinHash signatures + banded LSH bucketing; only
                          same-bucket candidates are verified. The scale
                          path for 100 TB fuzzy dedup: cost is
                          O(n·bands + candidate pairs), never n².
- simhash_pairs         — SimHash + Hamming-ball chunk banding.
- embedding_dup_pairs   — cosine near-dup over embedding columns (see
                          similarity.py for the ANN machinery).

Every shingle-set pair operator is one signature or candidate step
feeding the same two helpers: _band_candidates (the (band, key)
equi-join that turns banded frames into distinct id pairs — self-join,
batch-vs-index probe and the sketch report alike) and _verified_jaccard
(exact shingle Jaccard over candidates only; _jaccard is its one
expression). The two MinHash hash families — murmur3 (fast,
minhash_lsh_pairs) and md5 + affine (SQL-replayable, the *_neutral and
index operators) — differ only in the signature and band-key step.
SimHash likewise has one fingerprint fold (_simhash) and one chunk join
(_simhash_pairs), parameterized by token hash and bit width.

Everything below is pure Column expressions — signatures, banding, and
verification all stay JVM-side; there is no Python in the per-row path.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pymongraph_spark.functions.text import (
    normalized_text,
    token_count,
    tokens,
    word_shingles,
)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text. Returns
    (content_hash, dup_count, keep_id, doc_ids) — keep_id is the min id
    (deterministic survivor, SURVEY §5.5 discipline)."""
    h = F.md5(normalized_text(text_col)).alias("content_hash")
    return (
        _spread(docs).select(F.col(id_col).alias("doc_id"), h)
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
    )


def dedup_keep_first(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Materialized exact dedup: one surviving row (min id) per distinct
    normalized text. Window-free, single-pass (optimization r14): the
    whole row rides the hash groupBy as a min_by struct, so the input is
    scanned once and shuffled once (by content hash). The former
    groupBy + semi-join-back shape scanned the input twice and — at any
    scale where the survivor id set outgrows a broadcast, i.e. any real
    corpus (dedup keeps most docs) — shuffled the full payload a second
    time by id. Survivor ids are unique, so min_by is deterministic.

    Precondition (ADVICE r14): ``id_col`` must be unique per row. With
    duplicate ids the old semi-join shape returned EVERY row carrying a
    surviving id (a superset on ties); min_by returns exactly one
    nondeterministically-chosen row per hash group. All callers pass the
    primary-key doc_id."""
    cols = docs.columns
    return (
        docs.select(
            F.struct(*cols).alias("__row"),
            F.col(id_col).alias("__id"),
            F.md5(normalized_text(text_col)).alias("__h"),
        )
        .groupBy("__h")
        .agg(F.min_by("__row", F.col("__id")).alias("__row"))
        .select("__row.*")
    )


#: Minimum ESTIMATED input bytes before _spread pays for its exchange.
#: Measured break-even (r15, isolated shingle noop on a 1-partition
#: checkpoint): at ~0.6 MB the exchange is a wash in the isolated op and
#: a net LOSS inside a real query (the extra stage wave costs ~0.2 s of
#: serial chain at local job floors — d65 2.48→1.35 s with both spreads
#: gated off at sf0.1); at ~9.5 MB the spread wins 2.2× (6.9→3.2 s).
#: Override per deployment via spark.sparkgraph.spread.minBytes.
_SPREAD_MIN_BYTES = 4 * 1024 * 1024


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's sizeInBytes estimate for a frame (driver-side
    planning only, no job) — reliable for parquet scans (file sizes),
    meaningless (Long.Max default) for ExistingRDD/checkpoint inputs.
    Callers that checkpoint a scan-derived frame can capture the scan's
    estimate FIRST and pass it to shingled/shingled_grams as
    spread_hint_bytes, restoring the size gate across the stats-erasing
    checkpoint boundary."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _spread(
    df: DataFrame, weight: float = 1.0, hint_bytes: int | None = None
) -> DataFrame:
    """Repartition before CPU-heavy per-row expressions: a small table read
    from one parquet file is a single input split, which would serialize
    interpreted higher-order-function work onto one core.

    Scale-adaptive in BOTH directions (guide §2.5/§2.4; VERDICT r14 items
    4/8): fires only when the input has fewer partitions than the
    cluster's parallelism AND the optimizer's size estimate says there is
    enough work to amortize a full-payload round-robin exchange (with its
    sortBeforeRepartition local sort). At 100 TB a scan already has
    thousands of splits and the partition probe alone skips it; at bench
    scale (594 KB documents table) the size gate skips it for the plain
    shingle consumers — the exchange was measured as pure overhead there,
    and it was also why 8-core runs beat 32-core on the dedup-family rows
    (32 near-empty tasks per stage). In between (a multi-MB single-file
    table) it still fires, where it is worth 2.2× on the interpreted
    shingle path.

    ``weight`` scales the size estimate by the consumer's per-byte cost
    relative to the tokenize+shingle path the 4 MB threshold was
    calibrated on: the interpreted signature folds (64 MinHash
    permutations / 64 SimHash bit aggregates / hyperplane projections)
    are ~30-60× heavier, so their callers pass weight=64 and keep
    spreading down to ~64 KB of input (measured: gating d42's spread off
    at 594 KB regressed it 1.05→4.0 s single-core). Both probes are
    driver-side planning only (no job); a failed probe falls back to
    spreading — the conservative legacy behavior."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
        min_bytes = int(
            spark.conf.get(
                "spark.sparkgraph.spread.minBytes", str(_SPREAD_MIN_BYTES)
            )
        )
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if hint_bytes is not None:
            # a checkpoint boundary erases scan statistics (LogicalRDD
            # reports the Long.Max default); the caller's upper bound —
            # captured from the pre-checkpoint scan — restores the gate
            est = min(est, hint_bytes)
        if est * weight < min_bytes:
            return df
    except Exception:
        pass  # planning probe failed — keep the conservative rebalance
    return df.repartition(target)


def shingled(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3, spread_weight: float = 1.0, spread_hint_bytes: int | None = None) -> DataFrame:
    """Tokenization is STAGED as its own projection before the shingle
    transform: higher-order functions run interpreted, so an inlined
    ``word_shingles(tokens(text))`` re-evaluates the split+filter token
    expression once per shingle index (measured 7× slower at sf0.1).
    CollapseProject keeps the two Projects separate because the token
    alias is referenced more than once by a non-cheap expression.

    The empty-shingle guard is expressed as ``size(tokens) >= n`` ON THE
    INPUT, not ``size(shingles) > 0`` on the output (equivalent by
    word_shingles' short-doc guard): a filter above the shingle Project
    gets alias-substituted and pushed to the scan, re-evaluating the
    whole inlined shingle expression per row — the pushed predicate
    alone cost more than the projection it guarded (measured 3.3s vs
    0.3s at sf0.1). Dropping empty docs early also matters at scale:
    they would otherwise collide into one bucket per band downstream
    (a k² candidate clique of empty docs)."""
    return (
        _spread(
            docs.filter(token_count(text_col) >= n),
            weight=spread_weight,
            hint_bytes=spread_hint_bytes,
        )
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks"))
        .select("doc_id", word_shingles(F.col("__toks"), n).alias("shingles"))
    )


def shingled_grams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    spread_weight: float = 1.0, spread_hint_bytes: int | None = None,
) -> DataFrame:
    """One row per (doc_id, gram), grams distinct within a doc — the
    exploded form of shingled(), for consumers that work gram-wise
    (decontamination, overlap matrices, Bloom probes).

    The explode is FUSED into the projection that builds the array, and
    that placement is load-bearing: with the array aliased in its own
    Project below a Generate, Spark 4's InferFiltersFromGenerate infers
    ``size(shingles) > 0`` from the explode and pushes it through the
    Project with the ENTIRE shingle expression alias-substituted — the
    tokenization re-inlined once per shingle index — so every row pays
    the construction twice, once quadratically (measured 35 s vs 2.5 s
    for the identical explode at sf1). The persisted frames inside
    token_jaccard_pairs/minhash are immune: the cache boundary stops
    that pushdown. Exploding ``shingled(...)`` output in a later select
    re-creates the hazard — use this function instead."""
    staged = _spread(
        docs.filter(token_count(text_col) >= n),
        weight=spread_weight,
        hint_bytes=spread_hint_bytes,
    ).select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks"))
    return staged.select(
        "doc_id", F.explode(word_shingles(F.col("__toks"), n)).alias("gram")
    )


def _prefix_meetings(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    block_cols: tuple[str, ...],
    full_b: bool,
) -> tuple[DataFrame, DataFrame]:
    """The prefix-filter stage shared by token_jaccard_pairs and
    containment_pairs. Returns ``(s, meetings)``:

    - ``s``: the PERSISTED (doc_id, *block_cols, shingles) frame. The
      interpreted tokenize+shingle HOF is the dominant cost and EVERY
      downstream consumer (df counts, rank window, candidate sides,
      verification) would otherwise re-evaluate it from the scan
      (measured 16.7s -> ~6s at sf0.1). The caller releases it after
      its eager result checkpoint.
    - ``meetings``: one row per shingle two docs share on the candidate
      equi-join (shingle, blocks), with doc_id_a/b, the set sizes
      __sz_a/b, the df ranks __rk_a/b of the shared shingle, and __ub =
      min(|A|-rkA, |B|-rkB) + 1, the overlap bound from the min-rank
      common element (PPJoin positional filter).

    Shingles are globally ordered by ascending document frequency
    (rarest first; ties by shingle) and side A exposes each doc's prefix:
    its first |S| − ceil(t·|S|) + 1 shingles under that order. Side B
    exposes the same prefix, or every shingle when ``full_b``."""
    s = (
        _spread(docs.filter(token_count(text_col) >= n))
        .select(
            F.col(id_col).alias("doc_id"),
            *[F.col(c) for c in block_cols],
            tokens(text_col).alias("__toks"),
        )
        .select(
            "doc_id",
            *block_cols,
            word_shingles(F.col("__toks"), n).alias("shingles"),
        )
    ).persist()
    ex = s.select(
        "doc_id", *block_cols, F.size("shingles").alias("__sz"),
        F.explode("shingles").alias("__sh"),
    )
    freq = ex.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window

    rank_w = Window.partitionBy("doc_id").orderBy("__df", "__sh")
    ranked = ex.join(freq, on="__sh").withColumn("__rk", F.row_number().over(rank_w))
    # exact bound is sz - ceil(t·sz) + 1 ≡ floor((1-t)·sz) + 1 only in
    # REAL arithmetic: in doubles 1-0.8 = 0.19999…96, so floor((1-t)·sz)
    # under-counts by one whenever (1-t)·sz lands just below an integer
    # (every sz divisible by 5 at t=0.8) and a qualifying pair whose only
    # common shingles sit at that last prefix position is silently
    # dropped. Compute the ceil form with a slack that keeps FP from
    # rounding ABOVE the exact integer.
    prefix_len = (
        F.col("__sz")
        - F.ceil(F.lit(threshold) * F.col("__sz").cast("double") - F.lit(1e-9)).cast("int")
        + 1
    )
    prefix = ranked.filter(F.col("__rk") <= prefix_len)

    def side(df: DataFrame, t: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(f"doc_id_{t}"), "__sh",
            F.col("__sz").alias(f"__sz_{t}"), F.col("__rk").alias(f"__rk_{t}"),
            *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        )

    meetings = side(prefix, "a").join(
        side(ranked if full_b else prefix, "b"),
        on=["__sh", *[f"__b_{c}" for c in block_cols]],
    )
    ubound = F.lit(1) + F.least(
        F.col("__sz_a") - F.col("__rk_a"), F.col("__sz_b") - F.col("__rk_b")
    )
    return s, meetings.withColumn("__ub", ubound)


def token_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs above ``threshold`` via
    a PREFIX-FILTERED set-similarity join (the PPJoin/AllPairs family —
    Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06).

    Each doc exposes only its first |S| − ceil(t·|S|) + 1 shingles in
    ascending document-frequency order (computed in that ceil form: the
    algebraically-equal floor((1−t)·|S|)+1 under-counts in doubles
    because 1−0.8 = 0.19999…96); candidate pairs are those sharing ≥1
    prefix shingle within the same ``block_cols`` — a plain equi-join on
    (shingle, blocks), see _prefix_meetings. LOSSLESS: for the min-rank
    common element e of A∩B, if e were outside A's prefix then
    |A∩B| ≤ ceil(t·|A|) − 1 < t·|A| ≤ t·|A∪B|, contradicting J ≥ t —
    so e is in BOTH prefixes and every qualifying pair meets. The
    frequency ordering puts RARE shingles in prefixes, so join buckets
    stay small even on a homogeneous-length corpus where size-band
    blocking degenerates to O(block²) (measured 1.0M band candidates vs
    ~2k prefix candidates on 5k docs at sf0.1).

    Jaccard = |∩| / (|A|+|B|-|∩|) over DISTINCT shingle sets — integer
    sizes, double division (exact parity with the SQL oracle).

    100 TB shape: one partial-agg for document frequencies, one
    equi-join to rank, one per-doc window over prefix-length rows, the
    candidate equi-join on uniform rare-shingle keys, and verification
    over candidates only. Nothing is ever corpus × corpus.
    """
    s, meetings = _prefix_meetings(
        docs, text_col, id_col, n, threshold, block_cols, full_b=False
    )
    # PPJoin pruning at meeting time, before the distinct:
    # - size ratio: J ≥ t forces min/max set size ≥ t.
    # - positional: the overlap bound __ub must reach the equivalent
    #   overlap alpha = ceil(t/(1+t)·(|A|+|B|)). Each meeting is
    #   filtered independently; a qualifying pair's min-rank meeting
    #   always passes, so the distinct keeps it (lossless). The 1e-9
    #   slack keeps FP ceil from ever rounding alpha ABOVE the exact
    #   integer bound. Measured 1.04M band candidates → 105k prefix →
    #   32k after these two filters on 5k docs at sf0.1.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("__sz_a") + F.col("__sz_b")).cast("double")
        - F.lit(1e-9)
    )
    size_ok = (
        F.least("__sz_a", "__sz_b").cast("double") / F.greatest("__sz_a", "__sz_b")
        >= F.lit(threshold)
    )
    candidates = (
        meetings.filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(size_ok & (F.col("__ub") >= alpha))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    try:
        return _verified_jaccard(candidates, s, s, threshold).localCheckpoint(
            eager=True
        )
    finally:
        s.unpersist()


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    block_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: shingle containment C(A→B) =
    |A∩B| / |A| ≥ threshold, with A the smaller set (quote / excerpt /
    subset detection — the curation case Jaccard misses: a paragraph
    quoted inside a long page has high containment but low Jaccard).

    Direction is deterministic: contained = smaller shingle set, ties by
    min doc id (containment is symmetric at equal sizes).

    Prefix filtering applies to the CONTAINED side only: C ≥ t forces
    |A∩B| ≥ ceil(t·|A|), so A's df-rarest |A| − ceil(t·|A|) + 1 shingles
    must include a common element (same contradiction argument as the
    Jaccard prefix in token_jaccard_pairs above; same FP-safe ceil).
    The container side exposes ALL shingles — pure containment puts no
    lower bound on |B|'s overlap fraction — so the candidate join is
    A-prefix × B-full on (shingle, blocks): the inverted-index join,
    with the positional bound overlap ≤ min(|A|−rkA, |B|−rkB) + 1
    pruning meetings that can no longer reach ceil(t·|A|). Verification
    (array_intersect over candidates only) is exact; nothing is ever
    corpus × corpus.
    """
    s, meetings = _prefix_meetings(
        docs, text_col, id_col, n, threshold, block_cols, full_b=True
    )
    need = F.ceil(F.lit(threshold) * F.col("__sz_a").cast("double") - F.lit(1e-9))
    direction_ok = (F.col("__sz_a") < F.col("__sz_b")) | (
        (F.col("__sz_a") == F.col("__sz_b")) & (F.col("doc_id_a") < F.col("doc_id_b"))
    )
    candidates = (
        meetings.filter(direction_ok & (F.col("__ub") >= need))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    try:
        return (
            _pair_shingles(candidates, s, s)
            .select(
                F.col("doc_id_a").alias("contained_id"),
                F.col("doc_id_b").alias("container_id"),
                inter.cast("bigint").alias("n_shared"),
                (inter.cast("double") / F.size("sh_a").cast("double")).alias("containment"),
            )
            .filter(F.col("containment") >= threshold)
            .localCheckpoint(eager=True)
        )
    finally:
        s.unpersist()


def minhash_signatures(
    shingle_df: DataFrame, num_hashes: int = 64, shingle_col: str = "shingles"
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    murmur3(shingle, seed=i). One nested transform — no UDF, no shuffle.

    The signature step of minhash_lsh_pairs. Higher-order functions are
    interpreted per element, so this form pays num_hashes interpreted
    lambda evaluations per shingle (guide §1.2); minhash_lsh_pairs says
    why murmur3 still keeps it."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = F.transform(
        seeds,
        lambda i: F.array_min(
            F.transform(F.col(shingle_col), lambda s: F.hash(s, i.cast("int")))
        ),
    )
    return shingle_df.withColumn("signature", sig)


def _signature_agg(
    grams: DataFrame, gram_hash, min_exprs, id_col: str = "doc_id"
) -> DataFrame:
    """Signature via explode → num_hashes codegen'd min() aggregates
    (optimization r14, guide §1.2/§2.3): the former per-row HOF fold
    (transform over num_hashes permutations × array_min over shingles)
    runs interpreted — one lambda dispatch per (shingle, permutation) —
    and measured ~1.0s of the 1.5s signature job at sf0.1. Exploding to
    one (doc, gram) row and aggregating num_hashes min() columns keeps
    every hash/permutation in whole-stage codegen. The added Exchange is
    tiny and scale-safe: partial map-side aggregation emits one row of
    num_hashes longs per doc per map partition, and each doc's shingles
    live in exactly one input row, so the shuffle carries ~8·num_hashes
    bytes per doc regardless of corpus text size.

    ``grams`` is the EXPLODED (doc_id, gram) frame. Callers must supply a
    hazard-free explode: either shingled_grams(docs) (fused explode) or
    an explode over a MATERIALIZED shingle frame — exploding a lazy
    shingled() output here would trip the InferFiltersFromGenerate
    re-inlining hazard shingled_grams documents (measured 2.0s vs 0.6s
    for one 1250-doc batch's banded write).

    ``gram_hash(gram_col) -> Column`` is staged as its own projection so
    a non-cheap shared hash (the neutral md5 fold) is computed ONCE per
    (doc, gram) row — CollapseProject leaves multi-referenced non-cheap
    aliases staged (SPARK-36718), so the num_hashes aggregate references
    do not re-inline it. ``min_exprs(hash_col) -> [Column...]`` supplies
    the per-seed min-aggregate expressions; values are bit-identical to
    the HOF form (asserted by tests and the d45/st91/st92 oracle gates)."""
    ex = grams.select(id_col, gram_hash(F.col("gram")).alias("__h"))
    mins = min_exprs(F.col("__h"))
    named = [m.alias(f"__m{i}") for i, m in enumerate(mins)]
    return ex.groupBy(id_col).agg(*named).select(
        id_col, F.array(*[f"__m{i}" for i in range(len(named))]).alias("signature")
    )


def _jaccard(a: str, b: str) -> "F.Column":
    """|A∩B| / (|A|+|B|-|A∩B|) over two DISTINCT shingle-array columns —
    integer sizes, double division (exact parity with the SQL oracles)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / ((F.size(a) + F.size(b)).cast("double") - inter)


def _pair_shingles(
    candidates: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
) -> DataFrame:
    """Attach each candidate side's shingle set: (id_a, id_b) pairs
    joined to two (doc_id, shingles) frames, as columns sh_a / sh_b."""
    return candidates.join(
        sh_a.select(F.col("doc_id").alias(id_a), F.col("shingles").alias("sh_a")),
        on=id_a,
    ).join(
        sh_b.select(F.col("doc_id").alias(id_b), F.col("shingles").alias("sh_b")),
        on=id_b,
    )


def _verified_jaccard(
    candidates: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    threshold: float,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    the two sides' stored (doc_id, shingles) frames — the same frame twice
    for a self-join. Returns (id_a, id_b, jaccard ≥ threshold).

    Join strategy is left to the planner: the shingle frames are eager
    localCheckpoints (or persisted / parquet frames), and Spark 4
    PROPAGATES the pre-checkpoint statistics through a checkpoint, so
    auto-broadcast already picks BroadcastHashJoin whenever the corpus
    fits (verified in plans/r15/t107_minhash_verify_before.txt — all-BHJ
    before any forced hint existed). An r15 forced-broadcast variant that
    counted the frame first was measured and REVERTED: the count() job
    cost more at bench scale (d42 1.05→1.18 s) than the hint it guarded
    ever saved."""
    return (
        _pair_shingles(candidates, sh_a, sh_b, id_a, id_b)
        .select(id_a, id_b, _jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _band_candidates(
    left: DataFrame,
    right: DataFrame | None = None,
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
) -> DataFrame:
    """LSH candidate generation: distinct (id_a, id_b) doc pairs that share
    a bucket, i.e. one equi-join of two (doc_id, band, key) frames on
    (band, key). Shuffle keys are uniform hashes, so no skew. With no
    ``right`` frame it is the SELF-join of ``left``, keeping id_a < id_b.

    The self-join stays a join: an r15 A/B of the groupBy+in-bucket-
    expansion shape measured it 0.4s SLOWER at sf0.1 (1.25 -> 1.67 s) —
    AQE's exchange reuse already deduplicates the two identical banded
    shuffles, so the "one shuffle saved" was not real and the
    interpreted per-bucket expansion was pure cost."""
    pairs = left.select("band", "key", F.col("doc_id").alias(id_a)).join(
        (left if right is None else right).select(
            "band", "key", F.col("doc_id").alias(id_b)
        ),
        on=["band", "key"],
    )
    if right is None:
        pairs = pairs.filter(F.col(id_a) < F.col(id_b))
    return pairs.select(id_a, id_b).distinct()


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Fuzzy-dup candidate pairs via banded MinHash LSH, verified with
    exact Jaccard.

    rows = num_hashes/bands; P(candidate) = 1-(1-j^rows)^bands — with
    64/16 the S-curve crosses ~0.5 near j≈0.47, catching everything we
    then verify at ``threshold``. The band bucket join is an equi-join on
    (band_idx, band_hash): shuffle keys are uniform hashes, so no skew.

    Materialization barrier (VERDICT r4 hygiene + the regression naive
    removal caused): the signature frame MUST be a plan barrier through
    candidate generation AND verification — without it Catalyst's
    projection collapse inlines the 64-hash signature expression into
    each of the ``bands`` band-hash expressions, recomputing it bands×
    per row (measured 40× slower at sf0.1), and verification reuses the
    stored shingles. The barrier is an EAGER localCheckpoint, not a lazy
    persist: AQE submits the plan's four leaf shuffle stages (banded
    left/right, verification sh_a/sh_b) concurrently, and against a cold
    lazy cache all four race and recompute the signature pipeline in
    parallel. The checkpoint blocks are freed by the ContextCleaner when
    the caller drops the frame (cleanCheckpoints is on in session
    defaults), so nothing stays pinned after the call.
    """
    # weight=64: the 64-permutation interpreted fold downstream makes this
    # the heaviest per-byte consumer — gating its spread off at 594 KB
    # measured 1.05 -> 4.0 s single-core (see _spread)
    s = shingled(docs, text_col, id_col, n, spread_weight=64)
    # Materialized EAGERLY (one job), not lazily persisted: the downstream
    # plan has FOUR leaf shuffle stages that all scan this frame (banded
    # left/right + verification sh_a/sh_b), and AQE submits leaf stages
    # concurrently — against a lazy cache they race on the cold miss and
    # each recomputes the full shingle+signature pipeline (measured 4
    # concurrent ~2.1s jobs x 34 tasks inside t107's minhash step; one
    # eager materialization makes the other three scans block reads).
    # The murmur3 fold stays in the map-only HOF form: murmur3 is cheap
    # enough that the _signature_agg explode/shuffle shape measured
    # SLOWER at both sf0.1 (1.53s → 2.50s) and a 100k-doc corpus
    # (8.8s → 9.1s medians) — the agg restructure only pays for the
    # expensive md5 family (see _neutral_banded).
    sig = minhash_signatures(s, num_hashes).localCheckpoint(eager=True)
    try:
        banded = _band_key_explode(
            sig, num_hashes, bands, lambda sl: F.xxhash64(sl.cast("string"))
        )
        return _verified_jaccard(
            _band_candidates(banded), sig, sig, threshold
        ).localCheckpoint(eager=True)
    finally:
        sig.unpersist()


# Engine-neutral MinHash machinery: Spark's murmur3/xxhash64 cannot be
# reproduced in SQL, so the oracle-checkable variant hashes tokens through
# md5 (both engines agree bit-for-bit) and permutes with a seeded affine
# family (a*h + b) mod p over the Mersenne prime 2^31-1. All operands stay
# < 2^62, so 64-bit integer arithmetic never overflows in either engine.
MINHASH_P = (1 << 31) - 1
_MINHASH_SEED = 0x5EED
_rng = random.Random(_MINHASH_SEED)
MINHASH_AB: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_P), _rng.randrange(0, MINHASH_P)) for _ in range(64)
]
del _rng


def _md5_hash48(c) -> "F.Column":
    """First 12 md5 hex digits as a 48-bit integer, reduced mod P —
    deterministic and identical across Spark and DuckDB."""
    return (
        F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long") % F.lit(MINHASH_P)
    )


def _neutral_banded(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared engine-neutral signature + banding stage: returns
    (MATERIALIZED shingle frame (doc_id, shingles) — verification probes
    the stored blocks —, the separately checkpointed (doc_id, signature)
    frame, and the exploded banded frame (doc_id, band, key) over it).

    Both checkpoints are eager barriers: without them the banded frame's
    key expressions would recompute the signature via projection
    collapse, and a lazy persist would let AQE's concurrently-submitted
    leaf stages race on the cold cache and recompute the pipeline once
    per consumer (see minhash_lsh_pairs). Blocks are freed by the
    ContextCleaner when the caller drops the frames."""
    assert num_hashes <= len(MINHASH_AB), "extend MINHASH_AB for more permutations"
    # weight=64: the md5 fold + 64 min-aggregates downstream inherit this
    # frame's partitioning through the localCheckpoint (see _spread)
    s = shingled(docs, text_col, id_col, n, spread_weight=64)
    # Eager materialization, not a lazy persist: four downstream leaf
    # stages scan this frame concurrently under AQE (see
    # minhash_lsh_pairs) — a lazy cold cache makes all four recompute
    # the shingle pipeline in parallel; one eager job removes the race.
    sigd = s.localCheckpoint(eager=True)
    # Signature via explode → codegen'd min aggregates (_signature_agg,
    # optimization r14): the former interpreted HOF fold (num_hashes
    # permutations × array_min per row, with the md5 fold staged as its
    # own column) measured ~1.0s of the 1.5s signature job at sf0.1; the
    # exploded form keeps the md5 AND the affine permutations in
    # whole-stage codegen, computing md5 once per (doc, gram) row. The
    # signature frame is checkpointed separately — num_hashes longs per
    # doc — so the two banding scans read blocks, not the agg.
    # explode over the CHECKPOINT — the cache boundary stops the
    # InferFiltersFromGenerate pushdown (see _signature_agg's contract)
    grams = sigd.select("doc_id", F.explode("shingles").alias("gram"))
    sig_small = _neutral_signature(grams, num_hashes).localCheckpoint(eager=True)
    return sigd, sig_small, _band_key_explode(sig_small, num_hashes, bands)


def _neutral_signature(grams: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, signature) via the engine-neutral md5 + affine family —
    the _signature_agg explode/agg shape over an exploded (doc_id, gram)
    frame (see _signature_agg for the explode-hazard contract)."""
    return _signature_agg(
        grams,
        _md5_hash48,
        lambda h: [
            F.min((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P))
            for a, b in MINHASH_AB[:num_hashes]
        ],
    )


def _band_key_explode(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    band_key=lambda sl: F.concat_ws(",", sl),
) -> DataFrame:
    """(doc_id, band, key) from a (doc_id, signature) frame, one row per
    band; ``band_key(slice_col)`` turns the band's signature slice into
    its bucket key. The default comma-joined slice is the SQL-replayable
    key of the neutral family; minhash_lsh_pairs hashes the slice with
    xxhash64. Safe to apply lazily to _neutral_signature output (the
    signature sits above an Aggregate) or to a checkpoint: projection
    collapse cannot re-inline the signature construction into the
    per-band key expressions."""
    rows = num_hashes // bands
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                band_idx,
                lambda bi: F.struct(
                    bi.cast("int").alias("band"),
                    band_key(F.slice("signature", bi * rows + 1, rows)).alias("key"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.key")


def minhash_lsh_pairs_neutral(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """minhash_lsh_pairs with the engine-neutral hash family, so the FULL
    pipeline (signatures → banding → candidate join → exact-Jaccard
    verification) is reproducible in ANSI SQL and sits under the oracle
    gate. Same plan shape (and cache lifecycle) as the murmur3 variant:
    one cached signature pass released as soon as candidates materialize,
    an equi-join on (band, key), verification join over shingles.
    """
    sigd, _, banded = _neutral_banded(docs, text_col, id_col, n, num_hashes, bands)
    try:
        return _verified_jaccard(
            _band_candidates(banded), sigd, sigd, threshold
        ).localCheckpoint(eager=True)
    finally:
        sigd.unpersist()


def minhash_index_frames(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """One LSH index shard: the (doc_id, shingles) verification frame and
    the (doc_id, band, key) banded frame for a batch — what "re-bandable
    from stored signatures" means in practice. A streaming/daily pipeline
    writes these two frames per ingested batch and probes FUTURE batches
    against the stored index with minhash_lsh_probe_index: the corpus
    text is never re-shingled or re-minhashed.

    Both frames are LAZY, for callers that write them straight to a
    durable sink (the streaming index append path): the parquet write IS
    the materialization, so eager localCheckpoint barriers would be pure
    overhead there (optimization r14 — st88 dropped from ~3.4 to ~2 s per
    micro-batch, see OPTIMIZATION_r14.md). A caller that reads a frame
    more than once checkpoints it itself. Each returned frame recomputes
    the batch's shingle scan when written (two scans of one micro-batch —
    cheap); the banded frame builds on shingled_grams' FUSED explode
    (hazard contract in _signature_agg) and is collapse-safe per
    _band_key_explode."""
    s = shingled(docs, text_col, id_col, n, spread_weight=64)
    grams = shingled_grams(docs, text_col, id_col, n, spread_weight=64)
    return s, _band_key_explode(
        _neutral_signature(grams, num_hashes), num_hashes, bands
    )


def minhash_lsh_probe_index(
    new_shingles: DataFrame,
    new_bands: DataFrame,
    index_shingles: DataFrame,
    index_bands: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Probe a new batch's index frames against a STORED index: candidate
    generation is one equi-join on (band, key); verification joins touch
    only the two shingle frames. The incremental reuse pattern — the
    corpus side's hashing is amortized into the one-time index write, and
    minhash_lsh_pairs_incremental is this probe over freshly banded
    frames. Returns (doc_id_new, doc_id_corpus, jaccard >= threshold)."""
    ids = ("doc_id_new", "doc_id_corpus")
    return _verified_jaccard(
        _band_candidates(new_bands, index_bands, *ids),
        new_shingles,
        index_shingles,
        threshold,
        *ids,
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingest near-dup check: candidate pairs between a NEW
    batch and the existing corpus only — never corpus×corpus. This is the
    production shape for a training pipeline ingesting daily batches: the
    corpus side's banded index is write-once (re-bandable from stored
    signatures), each new batch bands itself and probes with one
    equi-join sized |new bands| × bucket occupancy, so incremental cost
    scales with the batch, not the corpus. Returns
    (doc_id_new, doc_id_corpus, jaccard ≥ threshold).
    """
    sig_n, _, band_n = _neutral_banded(new_docs, text_col, id_col, n, num_hashes, bands)
    sig_c, _, band_c = _neutral_banded(corpus, text_col, id_col, n, num_hashes, bands)
    try:
        return minhash_lsh_probe_index(
            sig_n, band_n, sig_c, band_c, threshold
        ).localCheckpoint(eager=True)
    finally:
        sig_n.unpersist()
        sig_c.unpersist()


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    probe_radius: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine_sim)
    with cosine ≥ ``threshold`` and id_a < id_b.

    - ``method='exact'``: all-pairs self-join — O(n²), the oracle
      baseline (strict left-fold dot product, bit-stable cross-engine).
    - ``method='lsh'``: sign-LSH multi-table candidate generation (an
      equi-join on bucket keys, O(n·L + candidates)) followed by the same
      exact cosine verification — the 100 TB path; recall is tuned by
      (n_planes, n_tables, probe_radius) exactly as in similarity.lsh_topk.
    """
    from pymongraph_spark.functions.vectors import cosine

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    if method == "exact":
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        from pymongraph_spark.operators.similarity import _lsh_buckets

        if dim is None:
            raise ValueError("method='lsh' requires dim")

        def buckets(out_id, probe_radius):
            return _lsh_buckets(
                _spread(emb, weight=64), {out_id: id_col}, vec_col,
                dim, n_planes, n_tables, seed, probe_radius,
            )

        cand = (
            buckets("id_a", 0)
            .join(buckets("id_b", probe_radius), on="bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        pairs = cand.join(
            a, on="id_a"
        ).join(b, on="id_b")
    else:
        raise ValueError(f"unknown method {method!r}")
    return (
        pairs.select(
            "id_a", "id_b", cosine(F.col("__va"), F.col("__vb")).alias("cosine_sim")
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# Bit masks 2^0..2^63 as a literal long array (2^63 wraps to long min —
# fine, it's only a mask). Shift amounts can't be lambda Columns, so the
# bit loop transforms over this constant array instead.
_POW2 = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def _simhash(
    docs: DataFrame, text_col: str, id_col: str, token_hash, masks: list[int]
) -> DataFrame:
    """(doc_id, simhash): per bit mask m, the bit is set iff the sign of
    Σ over the doc's DISTINCT tokens of ±1 (by ``token_hash(t) & m``) is
    positive. ``token_hash(token_col) -> long Column``; ``masks`` are the
    fingerprint's single-bit masks, one per bit. Bit loop is an array
    transform over the constant mask array — JVM-side, no UDF."""
    # The token-hash array is STAGED as its own projection: the mask
    # lambdas below each reference it, and interpreted HOF evaluation
    # would otherwise re-tokenize + re-hash the document once per bit
    # (same pathology as shingled()).
    staged = _spread(docs, weight=64).select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.array_distinct(tokens(text_col)), token_hash).alias("__hashes"),
    )
    hashes = F.col("__hashes")
    mask_arr = F.array(*[F.lit(m).cast("long") for m in masks])
    bit_counts = F.transform(
        mask_arr,
        lambda m: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            bit_counts,
            mask_arr,
            lambda cnt, m: F.when(cnt > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return staged.select("doc_id", sim.alias("simhash"))


def _simhash_pairs(
    fingerprints: DataFrame, chunk_bits: int, max_hamming: int
) -> DataFrame:
    """Near-dup pairs (doc_id_a < doc_id_b, hamming ≤ max_hamming) over a
    (doc_id, simhash) frame. Banding: the fingerprint splits into 4
    ``chunk_bits``-bit chunks; any pair within distance 3 shares ≥1 exact
    chunk (pigeonhole), so candidates come from one equi-join on (chunk,
    value), not a cross join, and exact Hamming verifies them. Cache
    lifecycle: the fingerprint frame is persisted while the (small) pair
    result materializes — without the barrier the 4 chunk expressions ×
    2 join sides recompute the bit-loop aggregate 8× per row via
    projection collapse — then released before returning; the caller
    gets an eagerly-materialized pair frame whose blocks the
    ContextCleaner frees on dereference."""
    sh = fingerprints.persist()
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftrightunsigned("simhash", i * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1).cast("long"))
                .alias("chunk_val"),
            )
            for i in range(4)
        ]
    )
    chunks = sh.select(
        "doc_id", "simhash", F.explode(chunk_structs).alias("cc")
    ).select("doc_id", "simhash", "cc.chunk", "cc.chunk_val")
    a = chunks.select("chunk", "chunk_val", F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sh_a"))
    b = chunks.select("chunk", "chunk_val", F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    try:
        return (
            a.join(b, on=["chunk", "chunk_val"])
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .select("doc_id_a", "doc_id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        sh.unpersist()


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: per bit b, sign of Σ_tokens ±1 by bit b
    of xxhash64(token). See _simhash."""
    return _simhash(docs, text_col, id_col, lambda t: F.xxhash64(t), _POW2)


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming: 4 16-bit chunks
    of the 64-bit fingerprint, candidate equi-join on (chunk, value),
    exact Hamming verify. Returns (doc_id_a, doc_id_b, hamming); see
    _simhash_pairs."""
    return _simhash_pairs(simhash(docs, text_col, id_col), 16, max_hamming)


def simhash_neutral(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash with the engine-neutral md5 token hash (first 12 md5
    hex digits = 48 independent bits, the full value — no mod-P reduction,
    bits must stay independent), so the whole fingerprint is reproducible
    in ANSI SQL. Same plan shape as the xxhash64 variant (_simhash)."""
    return _simhash(
        docs,
        text_col,
        id_col,
        lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
        [1 << b for b in range(48)],
    )


def simhash_pairs_neutral(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """simhash_pairs over the engine-neutral 48-bit fingerprint: 4 chunks
    of 12 bits (pigeonhole covers Hamming ≤ 3), candidate equi-join on
    (chunk, value), exact Hamming verify. Returns
    (doc_id_a, doc_id_b, hamming)."""
    return _simhash_pairs(simhash_neutral(docs, text_col, id_col), 12, max_hamming)


def minhash_estimation_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Sketch-quality evaluation: for every LSH candidate pair, the
    MinHash ESTIMATE of Jaccard (matching signature positions /
    num_hashes — the estimator whose expectation IS the Jaccard) next to
    the exact value and the absolute error. This is how a pipeline tunes
    (num_hashes, bands) before trusting the sketch at corpus scale:
    error concentrates as ~1/sqrt(num_hashes), and the report makes the
    tradeoff measurable on real data instead of assumed. Engine-neutral
    hash family, so the whole evaluation is oracle-checkable."""
    # Unlike the pairs pipeline, the estimator consumes BOTH the stored
    # shingles and the signature per pair side, so the (doc_id, signature)
    # checkpoint joins back onto the shingle checkpoint.
    sigd, sig, banded = _neutral_banded(docs, text_col, id_col, n, num_hashes, bands)
    try:
        candidates = _band_candidates(banded)
        sides = sigd.join(sig, "doc_id").select(
            "doc_id", "shingles", "signature"
        )
        pair = candidates.join(
            sides.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("shingles").alias("sh_a"),
                F.col("signature").alias("sig_a"),
            ),
            on="doc_id_a",
        ).join(
            sides.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("shingles").alias("sh_b"),
                F.col("signature").alias("sig_b"),
            ),
            on="doc_id_b",
        )
        matches = F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
        )
        est = matches.cast("double") / F.lit(float(num_hashes))
        exact = _jaccard("sh_a", "sh_b")
        out = pair.select(
            "doc_id_a",
            "doc_id_b",
            est.alias("est_jaccard"),
            exact.alias("jaccard"),
            F.abs(est - exact).alias("abs_err"),
        ).localCheckpoint(eager=True)
    finally:
        sigd.unpersist()
    return out


def semdedup(
    emb: DataFrame,
    k_clusters: int = 16,
    iters: int = 2,
    threshold_l2sq: int = 1_300_000_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): k-means cluster
    the embedding space, then mark semantic duplicates WITHIN clusters
    only — a vector is removed when a lower-id vector in the SAME cluster
    sits within the distance threshold. The cluster scoping is the whole
    point at 100 TB: pairwise comparison never crosses cluster
    boundaries, and k grows with the corpus so per-cluster candidate
    counts stay bounded (the published method uses k ≈ n/1000-ish; one
    runaway cluster is a salting candidate, same playbook as skew.py).

    Exact tier for the oracle gate: clustering is the integer-grid
    Lloyd's from operators/similarity.py (floor(val·1e6) quantization,
    truncated-division mean updates — bit-identical in any engine), and
    "within threshold" is an integer L2² comparison, so no float boundary
    can flip a removal. For unit-normalized vectors l2sq ≈ scale²·2(1−cos):
    the default 1.3e12 corresponds to cosine ≳ 0.35.

    Returns (vec_id, cell, removed, dup_of): one row per input vector,
    `removed` ∈ {0,1}, `dup_of` = the smallest same-cluster id within
    threshold (NULL for kept rows).
    """
    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        grid_kmeans_cells_fast,
        grid_seeds,
        quantize_arr,
    )

    qa = quantize_arr(emb, id_col, vec_col, GRID_SCALE, out="qarr")
    seeds = grid_seeds(emb, k_clusters, id_col)
    # broadcast-matrix assignment: k must grow with the corpus here, and
    # the exploded-row grid_assign measured 23.7× for 10× data at scaled
    # k (SCALE_PROBE_corpus_sf1.json) — the fast path is bit-identical
    cells, _, _ = grid_kmeans_cells_fast(qa, seeds, iters)
    return _dedup_within_cells(qa, cells, threshold_l2sq)


def _dedup_within_cells(
    qa: DataFrame, cells: DataFrame, threshold_l2sq: int
) -> DataFrame:
    """The SemDeDup decision, shared by the flat and hierarchical
    clusterers: within each cell, a vector is removed when a lower-id
    vector sits within the integer L2² threshold. qa is
    (vec_id, qarr array<long>); cells is (vec_id, cell) for every
    input vector (the join back preserves vectors whose cell produced
    no pairs)."""
    from pymongraph_spark.operators.similarity import _l2sq_arr

    arr = qa.withColumnRenamed("qarr", "__q").join(cells, "vec_id")
    a = arr.select(F.col("vec_id").alias("id_a"), F.col("__q").alias("__qa"), "cell")
    b = arr.select(F.col("vec_id").alias("id_b"), F.col("__q").alias("__qb"), "cell")
    pairs = (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", _l2sq_arr(F.col("__qa"), F.col("__qb")).alias("l2sq")
        )
        .filter(F.col("l2sq") <= F.lit(int(threshold_l2sq)))
    )
    rem = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("dup_of")
    )
    return cells.join(rem, on="vec_id", how="left").select(
        "vec_id",
        "cell",
        F.col("dup_of").isNotNull().cast("int").alias("removed"),
        "dup_of",
    )


_LEAF_STRIDE = 1 << 20  # leaf cell id = coarse_cell * stride + fine index


def _two_level_k(k_clusters: int) -> tuple[int, int]:
    """(k1, k2) of the two-level codebook: k1 = ceil(√k) coarse cells
    (at least 2), k2 = ceil(k/k1) fine cells per coarse cell. Raises
    when k2 would reach the leaf stride — leaf ids would alias across
    coarse cells."""
    import math

    k1 = max(2, math.isqrt(max(k_clusters - 1, 0)) + 1)  # ceil(sqrt(k))
    k2 = max(1, -(-k_clusters // k1))  # ceil(k / k1)
    if k2 >= _LEAF_STRIDE:
        raise ValueError(
            f"fine cluster count k2={k2} >= 2^20 leaf stride; "
            f"k_clusters={k_clusters} needs a larger _LEAF_STRIDE"
        )
    return k1, k2


def _fine_lloyd(ids, q, kk, iters):
    """The per-coarse-cell fine Lloyd's loop of semdedup_hierarchical,
    shared with the streaming codebook extractor (hierarchical_codebook)
    so it trains EXACTLY the fine centroids the batch operator assigns
    against. Seeds are the kk smallest vec_ids' vectors in ascending id
    order; the rounds are the grid's similarity._lloyd. Returns (cent,
    idx): the FINAL fine centroid matrix with rows in ascending
    original-fine-id order and their surviving fine ids."""
    import numpy as np

    from pymongraph_spark.operators.similarity import _lloyd

    return _lloyd(q, q[np.argsort(ids)[:kk]], np.arange(kk, dtype=np.int64), iters)


def semdedup_hierarchical(
    emb: DataFrame,
    k_clusters: int = 16,
    iters: int = 2,
    threshold_l2sq: int = 1_300_000_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with two-level (coarse → fine) clustering — the k∝n
    scale path. Flat Lloyd's assignment costs n·k products per
    iteration, quadratic once k scales with the corpus (measured: d58's
    k∝n config went super-linear at the sf9 third decade even after the
    BLAS tier, SCALE_PROBE_third_decade.json). Here: k1 = ceil(√k)
    coarse centroids trained on the full set (n·√k work), then
    k2 = ceil(k/k1) fine centroids trained LOCALLY inside each coarse
    cell via applyInPandas (Σ n_g·k2 ≈ n·√k) — ~k leaf cells at
    O(n·√k) total assignment work, the same shard-then-cluster shape
    Abbas et al. (arXiv:2303.09540 §4) run on faiss shards. Groups are
    n/√k vectors — bounded executor-memory batches at any corpus size
    (1B vectors at k=8M: ~350k rows × dim ≈ 180 MB).

    The within-cell dedup decision is the exact integer L2² rule shared
    with semdedup (_dedup_within_cells); only the cell boundaries
    differ from flat k-means (the published method's quality is
    insensitive to the clusterer — duplicates have near-identical
    vectors, which land in the same coarse AND fine cell by argmin
    determinism; pinned by the exact-duplicate test). Deterministic
    throughout: coarse seeds are the md5-smallest ids, fine seeds the
    k2 smallest vec_ids per cell, numpy argmin first-min tie-break,
    truncated-division mean updates.

    Returns the semdedup contract: (vec_id, cell, removed, dup_of),
    cell = coarse*2^20 + fine (_two_level_k keeps fine < 2^20).
    """
    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        grid_kmeans_cells_fast,
        grid_seeds,
        quantize_arr,
    )

    k1, k2 = _two_level_k(k_clusters)
    qa = quantize_arr(emb, id_col, vec_col, GRID_SCALE, out="qarr")
    coarse, _, _ = grid_kmeans_cells_fast(qa, grid_seeds(emb, k1, id_col), iters)

    def refine(pdf):
        import numpy as np
        import pandas as pd

        from pymongraph_spark.operators.similarity import _argmin_kernel

        ids = pdf["vec_id"].to_numpy()
        q = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)
        cent, idx = _fine_lloyd(ids, q, min(k2, len(pdf)), iters)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": int(pdf["cell"].iloc[0]) * _LEAF_STRIDE
                + idx[_argmin_kernel(cent)(q)],
            }
        )

    leaves = qa.join(coarse, "vec_id").groupBy("cell").applyInPandas(
        refine, schema="vec_id bigint, cell bigint"
    )
    return _dedup_within_cells(qa, leaves, threshold_l2sq)


def codebook_k_for(n_vectors: int, target_occupancy: int = 125) -> int:
    """The production sizing rule for hierarchical_codebook (VERDICT r10
    item 1's 'k-sizing not yet mechanized'): the leaf count that keeps
    expected same-cell occupancy — the per-trigger join fan-in of a
    streaming probe, and the within-cell exact-L2 cost of batch dedup —
    bounded by ``target_occupancy`` at ANY corpus size. k grows linearly
    with n, but every k-dependent cost stays bounded: the codebook is
    k×dim driver metadata, assignment is O(√k) products/vector (two-level
    argmin), and the trainer is d62's fused kernel, measured sub-linear
    at the fourth decade (2.33× for 3×). Probe evidence
    (SCALE_PROBE_st92.json, which applies this rule: 2000→k=16,
    20000→k=160): occupancy flat ~125 across a 10× corpus, per-trigger
    ratio 1.03 vs the fixed-k 6.89.

    The st92 GATE row pins k=16 regardless — its DuckDB oracle is a
    static unrolled-CTE string that must replay the same codebook — so
    this rule is exercised by the probe and unit tests, not the gate."""
    import math

    return max(2, math.ceil(n_vectors / max(1, target_occupancy)))


def hierarchical_codebook(
    emb: DataFrame,
    k_clusters: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int | None = None,
):
    """Train semdedup_hierarchical's two-level (coarse → fine) codebook
    ONCE and return it as DRIVER METADATA — the pretrained artifact a
    streaming near-dup probes against (VERDICT r10 item 1: the batch
    tier solved bounded-occupancy with this shape; the stream reuses it
    so assignment stays map-only at any k∝corpus).

    Returns ``(cells_arr, cmat, fine_cb)``: the coarse centroid matrix
    (ascending cell ids, k1×dim int64, as grid_kmeans_cells_fast
    returns it) plus ``fine_cb`` mapping each coarse cell to its
    surviving fine centroids ``(fine_ids int64[], fine_cmat int64
    [k2_g×dim])`` in ascending-fine-id order. Total size is k×dim —
    bounded like MLlib's broadcast centroids, NOT corpus-scale.

    Arithmetic is shared with semdedup_hierarchical via _fine_lloyd, so
    assign_hierarchical over the training corpus reproduces its leaf
    cells bit-exactly (pinned by
    test_hierarchical_codebook_matches_batch_leaves).

    ``scale``: the quantization scale (default GRID_SCALE). Pass
    ``scale=1`` when ``vec_col`` is ALREADY a quantized int64 array —
    floor(q·1) = q, so the frame trains as-is. The streaming retrain
    path (queries/streaming.py) trains on the standing index's stored
    qarr this way; re-quantizing at GRID_SCALE would scale the grid a
    second time and change the truncated-mean centroids."""
    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        grid_kmeans_cells_fast,
        grid_seeds,
        quantize_arr,
    )

    k1, k2 = _two_level_k(k_clusters)
    qa = quantize_arr(
        emb, id_col, vec_col, GRID_SCALE if scale is None else scale, out="qarr"
    )
    coarse, cells_arr, cmat = grid_kmeans_cells_fast(
        qa, grid_seeds(emb, k1, id_col), iters
    )

    def emit(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        q = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)
        fcent, fidx = _fine_lloyd(ids, q, min(k2, len(pdf)), iters)
        return pd.DataFrame(
            {
                "coarse": int(pdf["cell"].iloc[0]),
                "fine": fidx,
                "cent": list(fcent),
            }
        )

    rows = (
        qa.join(coarse, "vec_id")
        .groupBy("cell")
        .applyInPandas(emit, schema="coarse bigint, fine bigint, cent array<bigint>")
        .collect()  # bounded by k×dim — driver metadata, like cmat
    )
    import numpy as np

    by_coarse: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["coarse"], r["fine"])):
        by_coarse.setdefault(int(r["coarse"]), []).append(r)
    fine_cb = {
        c: (
            np.array([r["fine"] for r in v], dtype=np.int64),
            np.array([r["cent"] for r in v], dtype=np.int64),
        )
        for c, v in by_coarse.items()
    }
    return cells_arr, cmat, fine_cb


def assign_hierarchical(qarr_df: DataFrame, cells_arr, cmat, fine_cb) -> DataFrame:
    """Map-only two-level nearest-centroid assignment against a
    hierarchical_codebook: coarse argmin over the k1×dim matrix, then
    fine argmin over that coarse cell's fine centroids — O(√k) products
    per vector instead of flat Lloyd's O(k), n rows stay n rows, zero
    shuffle (the streaming analogue of d62's refine; same first-min
    tie-breaks). Input (vec_id, qarr); returns (vec_id, cell) with
    cell = coarse·2^20 + fine. Fails loud on a coarse cell absent from
    the codebook (impossible for vectors drawn from the training
    corpus; a foreign vector landing there means the codebook is stale)."""
    import numpy as np
    import pandas as pd

    from pymongraph_spark.operators.similarity import _argmin_kernel

    coarse_pos = _argmin_kernel(cmat)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)
            coarse = cells_arr[coarse_pos(q)]
            leaf = np.empty(len(pdf), dtype=np.int64)
            for c in np.unique(coarse):
                mask = coarse == c
                fidx, fmat = fine_cb[int(c)]
                leaf[mask] = c * _LEAF_STRIDE + fidx[_argmin_kernel(fmat)(q[mask])]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": leaf})

    return qarr_df.select("vec_id", "qarr").mapInPandas(
        assign, schema="vec_id bigint, cell bigint"
    )


def bloom_m_bits_for(
    n_grams: int, gram_fp: float = 1e-4, n_hashes: int = 3
) -> int:
    """Production sizing rule for bloom_decontaminate's filter: the bit
    count that holds the PER-GRAM false-positive rate at ``gram_fp`` for
    ``n_grams`` distinct eval shingles under ``n_hashes`` seeds —
    p = (1 - e^(-k·n/m))^k solved for m. Doc-level FP compounds over a
    doc's grams (≈ g·gram_fp for small rates), so pick gram_fp ≈
    doc_fp / typical_grams_per_doc: the default 1e-4 gives ~1% doc-level
    FP at ~100 grams/doc.

    Why this must scale with the EVAL SET, not stay fixed: the t104
    scale probe measured the gate-pinned 65536-bit filter at 45k eval
    grams running 87% full — gram FP 66%, every train doc "contaminated".
    m grows linearly with eval grams (~63 bits/gram at the default), but
    the filter stays a broadcast plan constant: 45k grams → 350 KB,
    4.5M grams → 35 MB, still far under executor broadcast budgets while
    the train-side probe remains map-only at any corpus size.

    The rule is deliberately INTEGER bits-per-gram × count (the per-gram
    factor is ceil'd first: 64 at the 1e-4/3-seed default), not the raw
    closed form, so an engine-neutral oracle can replay it with integer
    arithmetic — cross-engine ln/pow need not agree to the ulp. d65
    gates exactly this (GREATEST(65536, 64 * count) in DuckDB); the
    d59 / t104 rows pin m_bits=65536 — their static oracles replay those
    filter words."""
    import math

    base = gram_fp ** (1.0 / n_hashes)
    bits_per_gram = math.ceil(-n_hashes / math.log(1.0 - base))
    return max(65536, bits_per_gram * n_grams)


def bloom_decontaminate(
    train_grams: DataFrame,
    eval_grams: DataFrame,
    m_bits: int = 65536,
    n_hashes: int = 3,
    id_col: str = "doc_id",
    gram_col: str = "gram",
    with_exact: bool = False,
) -> DataFrame:
    """Dolma-style Bloom-filter decontamination (Soldaini et al., 2024
    build their dedup/decontamination on a Bloom filter for exactly this
    reason): the eval-set n-grams are folded into an m-bit filter that is
    a BROADCAST PLAN CONSTANT — at 100 TB the probe side never shuffles,
    versus the semi-join decontamination (t86/d52) whose gram exchange
    scales with the corpus. No false negatives by construction; false
    positives are bounded by the fill factor and reported per doc by the
    caller's exact twin.

    The filter is stored as ceil(m/63) bigint words with 63 usable bits
    each — bit 63 is never set because DuckDB raises on `1 << 63` while
    Spark wraps, and the oracle twin must replay the exact same words.
    Hash family: md5(seed || ':' || gram), first 12 hex chars (48 bits)
    mod m — cross-engine reproducible, seeds 0..n_hashes-1.

    Returns one row per train doc: (doc_id, bloom_flagged) where
    bloom_flagged = 1 iff ANY of the doc's grams hits all n_hashes
    positions. train_grams may contain duplicate (doc, gram) rows; each
    duplicate row evaluates to the same all-seeds-hit boolean, so
    duplicates cannot defeat the test (max() absorbs them).

    ``with_exact=True`` (optimization r15, guide §2.3/§2.4) additionally
    returns ``exact_flagged`` = 1 iff any of the doc's grams is LITERALLY
    in the eval set, computed in the SAME pass: a left join of the
    distinct eval grams onto the probe rows, absorbed by the same
    doc-level aggregation. The d59/d65 callers previously derived this
    via a second ``train_grams`` semi-join — a full second scan+shingle
    of the train split, its own exchange, and a doc-level join to stitch
    the two flag frames back together. Equivalence: the old path was
    distinct(semi-join doc_ids) left-joined onto the bloom frame with
    coalesce(flag, 0); max(gram-in-eval) over exactly the same probe
    rows produces the same per-doc bit for the same doc set (both frames
    keyed by the identical train_grams rows). The join strategy is left
    to the planner, like the semi-join it replaced: the eval gram set
    broadcasts where it fits, and past the broadcast cap the join
    shuffles instead of failing.
    """
    seeds = F.array(*[F.lit(s) for s in range(n_hashes)])

    def pos_for(seed) -> "F.Column":
        return (
            F.conv(
                F.substring(F.md5(F.concat_ws(":", seed, F.col(gram_col))), 1, 12),
                16,
                10,
            ).cast("bigint")
            % m_bits
        )

    words = (
        eval_grams.select(gram_col)
        .distinct()
        .select(F.explode(seeds).alias("seed"), gram_col)
        .select(pos_for(F.col("seed")).alias("pos"))
        .groupBy(F.expr("pos div 63").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))"
            ).alias("bits")
        )
    )
    # Probe side (optimization r14, guide §2.3/§2.4): the n_hashes
    # positions are computed as COLUMNS of one row per (doc, gram) and
    # each checked via its own broadcast lookup into `words`, instead of
    # the former explode(seeds) → groupBy(doc, gram) count_distinct →
    # groupBy(doc) chain. That chain tripled the probe rows before the
    # exchange and planned THREE shuffles (the distinct-aggregate's two
    # plus the doc-level max); this shape shuffles one partial-aggregated
    # boolean per doc — a single exchange, no row multiplication. The
    # three lookups join `words` via DataFrame ALIASES, not per-seed
    # rename projections: a rename Project makes each broadcast subtree
    # canonically distinct, so AQE rebuilt the words aggregation (and the
    # eval-side shingle scan under it) once per seed — with aliases the
    # subtrees canonicalize identically and the broadcast exchange is
    # built once and reused (measured 1.40s → 1.09s on the d65 shape at
    # sf0.1). Semantics are identical: a gram is a hit iff ALL seed
    # positions are set (the per-seed left join + coalesce(bits, 0)
    # reads an untouched word as all-zero = guaranteed miss), duplicate
    # (doc, gram) rows simply produce identical hit rows under max().
    probe = train_grams.select(
        id_col,
        *([gram_col] if with_exact else []),
        *[pos_for(F.lit(s)).alias(f"__p{s}") for s in range(n_hashes)],
    )
    hit = F.lit(True)
    for s in range(n_hashes):
        w_s = words.alias(f"__w{s}")
        probe = probe.join(
            F.broadcast(w_s),
            F.expr(f"__p{s} div 63") == F.col(f"__w{s}.w"),
            "left",
        )
        hit = hit & (
            F.coalesce(F.col(f"__w{s}.bits"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(__p{s} % 63 AS INT))")
            )
            != 0
        )
    if with_exact:
        ev_set = eval_grams.select(
            F.col(gram_col).alias("__ev_gram")
        ).distinct().withColumn("__ev_hit", F.lit(1))
        probe = probe.join(ev_set, F.col(gram_col) == F.col("__ev_gram"), "left")
        return (
            probe.select(
                id_col,
                hit.cast("int").alias("__hit"),
                F.coalesce("__ev_hit", F.lit(0)).alias("__ex"),
            )
            .groupBy(id_col)
            .agg(
                F.max("__hit").alias("bloom_flagged"),
                F.max("__ex").alias("exact_flagged"),
            )
        )
    return (
        probe.select(id_col, hit.cast("int").alias("__hit"))
        .groupBy(id_col)
        .agg(F.max("__hit").alias("bloom_flagged"))
    )


#: chunk_id encoding base for chunk_neardup_pairs: chunk_id = doc_id * 2^20
#: + chunk_idx. 2^20 chunks ≈ 20M tokens/doc at the default window.
CHUNK_ID_BASE = 1 << 20


def _token_chunks(
    staged: DataFrame, chunk_tokens: int, max_chunks: int | None = None
) -> DataFrame:
    """(doc_id, __toks) → exploded (doc_id, chunk_idx, chunk) fixed-size
    token windows. Shared by chunk_dedup / chunk_neardup_pairs.

    Empty-token docs are guarded exactly like word_shingles
    (functions/text.py): without the when(size>0), sequence(0, -1)
    yields the DESCENDING [0, -1] — two spurious ''-chunks per empty
    doc, and with chunk_tokens=1 a slice(…, 0, …) runtime error.
    posexplode of the empty array emits no row, so empty docs vanish.

    When ``max_chunks`` is set, any doc exceeding it fails the job loudly
    (raise_error) instead of silently corrupting downstream arithmetic —
    chunk_neardup_pairs encodes chunk_idx into doc_id * 2^20 + chunk_idx.
    """
    n_chunks = F.ceil(F.size("__toks") / F.lit(chunk_tokens)).cast("int")
    if max_chunks is not None:
        # fail-loud bound check fused into the count the sequence uses, so
        # column pruning can never drop it (a bare assert_true column
        # would be pruned as unused)
        n_chunks = F.when(n_chunks <= F.lit(max_chunks), n_chunks).otherwise(
            F.raise_error(
                F.format_string(
                    "chunk_idx overflow: doc %s has %s chunks > max %s "
                    "(chunk_id encoding requires chunk_idx < 2^20)",
                    F.col("doc_id"),
                    n_chunks,
                    F.lit(max_chunks),
                )
            ).cast("int")
        )
    # chunk i = tokens[i*k ... i*k+k) re-joined with single spaces; the
    # explode is FUSED into the constructing select (the shingled_grams
    # rule — an aliased array in its own Project would get re-inlined
    # into the size()>0 filter InferFiltersFromGenerate pushes down)
    return staged.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("__toks") > 0,
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice("__toks", i * chunk_tokens + 1, chunk_tokens), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("chunk_idx", "chunk"),
    )


def chunk_dedup(
    docs: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-CHUNK removal with document reassembly — the Dolma /
    Lee-et-al "exact paragraph dedup" stage for unstructured text: split
    each document into consecutive fixed-size token windows (the chunk
    analogue of paragraphs when the corpus carries no newline structure),
    keep exactly the FIRST occurrence of every distinct chunk corpus-wide
    (first = smallest (doc_id, chunk_idx)), and rebuild each document
    from its surviving chunks in order.

    Scale shape: one explode (rows ∝ corpus tokens / chunk_tokens), one
    groupBy on the chunk hash (uniform md5 keys — no skew), one equi-join
    back, one per-doc reassembly agg. Never corpus²; nothing is compared
    pairwise. Complements t96 (which DETECTS repeated spans) by actually
    removing them, and d40 (whole-doc exact dedup) at sub-document
    granularity.

    Returns (doc_id, n_chunks, n_removed, clean_text) — clean_text NULL
    when every chunk of the doc was removed (fully-duplicate document).
    clean_text is TOKEN-NORMALIZED (lowercased, single-spaced): chunk
    identity is defined on the token stream, so the reassembly is too —
    the same normalization contract as every dedup operator here.
    Empty / whitespace-only / NULL-text docs have no chunks and emit NO
    row (same contract as the shingle operators): without the size()>0
    guard, sequence(0, -1) would produce the DESCENDING [0, -1] and each
    empty doc would emit two spurious ''-chunks that dedupe corpus-wide.
    """
    staged = _spread(docs).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    )
    chunks = _token_chunks(staged, chunk_tokens)
    keyed = chunks.select(
        "doc_id", "chunk_idx", "chunk", F.md5("chunk").alias("__h")
    )
    # first occurrence per distinct chunk, corpus-wide: min struct orders
    # by (doc_id, chunk_idx) lexicographically — deterministic keep-first
    first = keyed.groupBy("__h").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("__first")
    )
    kept = keyed.join(first, on="__h").withColumn(
        "__keep",
        (F.col("doc_id") == F.col("__first.doc_id"))
        & (F.col("chunk_idx") == F.col("__first.chunk_idx")),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum((~F.col("__keep")).cast("int")).cast("int").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__keep"), F.struct("chunk_idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("__joined"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_removed",
            # fully-duplicate doc: no surviving chunks → NULL, not ""
            F.when(F.col("n_removed") < F.col("n_chunks"), F.col("__joined")).alias(
                "clean_text"
            ),
        )
    )


def chunk_neardup_pairs(
    docs: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-duplicate chunk pairs — the fuzzy complement of chunk_dedup's
    exact keep-first: paragraphs copied WITH EDITS (boilerplate with a
    date swapped, a template with one field changed) hash to different
    chunks but band together under MinHash. Built by pointing the
    engine-neutral LSH pipeline (minhash_lsh_pairs_neutral — signatures,
    banding, candidate equi-join, exact-Jaccard verify, so an ANSI-SQL
    oracle can replay it for the r9 gate) at the CHUNK frame instead of
    the document frame.

    Chunk identity travels as ``chunk_id = doc_id * 2^20 + chunk_idx``
    (invertible in SQL; requires chunk_idx < 2^20 — ~20M tokens/doc at
    the default window, enforced fail-loud by a raise_error fused into
    the chunker's count expression). Returns (doc_a, idx_a, doc_b,
    idx_b, jaccard, cross_doc); pairs are unordered (chunk_id_a <
    chunk_id_b) and same-doc repeats are flagged rather than dropped —
    internal boilerplate is a quality signal (t75), cross-doc
    contamination a dedup signal. The id decode uses integer `div`, NOT
    float division: a double mantissa holds 53 bits, so `/` goes inexact
    at chunk_id ≥ 2^53 (doc_id ≈ 2^33 — the billion-doc tier this
    operator targets) while `div` is exact for any bigint.
    """
    staged = _spread(docs).select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        tokens(text_col).alias("__toks"),
    )
    chunks = _token_chunks(staged, chunk_tokens, max_chunks=CHUNK_ID_BASE).select(
        (F.col("doc_id") * F.lit(CHUNK_ID_BASE) + F.col("chunk_idx")).alias(
            "chunk_id"
        ),
        "chunk",
    )
    pairs = minhash_lsh_pairs_neutral(
        chunks,
        text_col="chunk",
        id_col="chunk_id",
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    # integer div — exact for any bigint chunk_id; float `/` would round
    # above 2^53 (doc_id ≈ 2^33) and decode off-by-one doc ids
    dec = lambda c: F.expr(f"{c} div {CHUNK_ID_BASE}")  # noqa: E731
    return pairs.select(
        dec("doc_id_a").alias("doc_a"),
        (F.col("doc_id_a") % F.lit(CHUNK_ID_BASE)).cast("int").alias("idx_a"),
        dec("doc_id_b").alias("doc_b"),
        (F.col("doc_id_b") % F.lit(CHUNK_ID_BASE)).cast("int").alias("idx_b"),
        "jaccard",
        (dec("doc_id_a") != dec("doc_id_b")).alias("cross_doc"),
    )
