"""LLM-data-pipeline operators as oracle-checked queries: dedup tiers,
similarity search, text analysis, multimodal plumbing (SURVEY.md §2.13
north-star extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pymongraph_spark.catalog import load_tables
from pymongraph_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    normalized_text,
    predict_lang,
    quality_features,
    quality_score,
    token_count,
    tokens,
)
from pymongraph_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
    token_jaccard_pairs,
)
from pymongraph_spark.operators.multimodal import attach_fake_media, decode_media
from pymongraph_spark.operators.similarity import brute_force_topk, lsh_topk
from pymongraph_spark.queries.registry import query

# DuckDB token expression matching functions.text.tokens
_SQL_TOKS = "list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> x <> '')"
# DuckDB word-3-gram shingles matching functions.text.word_shingles(n=3)
_SQL_SHINGLES = (
    f"list_distinct([array_to_string(toks[i:i+2], ' ') "
    f"for i in generate_series(1, greatest(len(toks) - 2, 0))])"
)


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
@query(
    "d40_exact_dedup",
    # ALL content-hash groups, not just dup_count>1: the sf0.01 corpus has
    # no exact duplicates, and a 0-row oracle match is vacuous — emitting
    # every group checks the md5+normalization+grouping at every scale,
    # and dup detection is the dup_count column.
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS content_hash,
           COUNT(*) AS dup_count,
           MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def d40_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return exact_dedup(docs).select("content_hash", "dup_count", "keep_id")


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs (blocked self-join).
# --------------------------------------------------------------------------
@query(
    "d41_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS shingles
      FROM (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
             AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
          >= 0.5
    """,
)
def d41_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return token_jaccard_pairs(docs, n=3, threshold=0.5, block_cols=("lang",))


# --------------------------------------------------------------------------
# MinHash LSH fuzzy dedup — the 100 TB scale path. MinHash signatures use
# Spark's murmur3 (F.hash), which DuckDB cannot reproduce, so the BANDING
# cannot be replayed; since r15 the row is gated against the IDEALIZED
# result instead (VERDICT r14 item 5): every pair with exact 3-gram-set
# jaccard >= 0.5 (d41's oracle formula without the lang blocking). The
# query's output equals that set exactly when LSH recall is 100%, which
# is measured and deterministic on the seed-pinned testdata: at
# sf0.001/0.01/0.1 the idealized set and the query agree pair-for-pair,
# with min true-pair jaccard 0.8 (per-band match P=0.8^4≈0.41, so a
# missed pair would need all 16 bands to miss — never observed, and the
# fixed murmur3/fixed data make the check reproducible, not
# probabilistic). If regenerated testdata ever planted a borderline pair
# the gate would turn red loudly rather than silently passing.
# --------------------------------------------------------------------------
@query(
    "d42_minhash_lsh_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
          >= 0.5
    """,
)
def d42_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return minhash_lsh_pairs(docs, n=3, num_hashes=64, bands=16, threshold=0.5)


# --------------------------------------------------------------------------
# SimHash near-dup pairs — xxhash64-based, rows-only gate for the same
# reason as d42.
# --------------------------------------------------------------------------
@query("d43_simhash_pairs")
def d43_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return simhash_pairs(docs, max_hamming=3)


# --------------------------------------------------------------------------
# Engine-neutral MinHash LSH — the SAME banded pipeline as d42 but with an
# md5-derived token hash + seeded affine permutations mod 2^31-1, which
# ANSI SQL can reproduce exactly. This puts the full MinHash path
# (signatures → banding → candidate join → Jaccard verify) under the
# hash-match gate instead of rows-only.
# --------------------------------------------------------------------------
def _d45_oracle(num_hashes: int = 64, bands: int = 16, threshold: float = 0.5) -> str:
    ctes, final = _d45_parts(num_hashes, bands, threshold)
    return f"WITH {ctes} {final}"


def _d45_parts(
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    source: str = "documents",
) -> tuple[str, str]:
    """The d45 oracle split into (CTE list, final SELECT) so composite
    pipelines (d49 clustering, d61 chunk near-dup) can reuse the
    candidate-pair CTEs under their own WITH prefix. ``source`` is any
    table/CTE exposing (doc_id, text) — d61 points it at a chunk frame
    whose doc_id is the encoded chunk_id."""
    from pymongraph_spark.operators.dedup import MINHASH_AB, MINHASH_P

    rows = num_hashes // bands
    ab_sql = "[" + ", ".join(f"{{'a': {a}, 'b': {b}}}" for a, b in MINHASH_AB[:num_hashes]) + "]"
    ctes = f"""
    sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM {source})
      WHERE len(toks) >= 3
    ),
    tok AS (
      SELECT doc_id,
             list_reduce([CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1 AS BIGINT)
                          for i in generate_series(1, 12)],
                         (acc, x) -> acc * 16 + x) % {MINHASH_P} AS h
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
    ),
    perm AS (SELECT unnest(generate_series(0, {num_hashes - 1})) AS i),
    sig AS (
      SELECT doc_id, i,
             MIN(({ab_sql}[i + 1].a * h + {ab_sql}[i + 1].b) % {MINHASH_P}) AS v
      FROM tok, perm
      GROUP BY doc_id, i
    ),
    band AS (
      SELECT doc_id, i // {rows} AS band,
             string_agg(v, ',' ORDER BY i) AS key
      FROM sig GROUP BY doc_id, i // {rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM band a JOIN band b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )"""
    final = f"""
    SELECT doc_id_a, doc_id_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
             AS jaccard
    FROM cand JOIN sh sa ON cand.doc_id_a = sa.doc_id
              JOIN sh sb ON cand.doc_id_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
          >= {threshold}
    """
    return ctes, final


@query("d45_minhash_lsh_oracle", oracle=_d45_oracle())
def d45_minhash_lsh_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import minhash_lsh_pairs_neutral

    docs = load_tables(spark, sf_dir)["documents"]
    return minhash_lsh_pairs_neutral(docs, n=3, num_hashes=64, bands=16, threshold=0.5)


def _d50_oracle() -> str:
    # Banding the full corpus then filtering pair sides is equivalent to
    # banding the two subsets separately and joining across: same buckets,
    # same (new, corpus) candidates. (_d45_parts' all-pairs `cand` CTE is
    # simply unused here.)
    ctes, _ = _d45_parts()
    return f"""
    WITH {ctes},
    cand_inc AS (
      SELECT DISTINCT a.doc_id AS doc_id_new, b.doc_id AS doc_id_corpus
      FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
    )
    SELECT doc_id_new, doc_id_corpus,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
             AS jaccard
    FROM cand_inc JOIN sh sa ON cand_inc.doc_id_new = sa.doc_id
                  JOIN sh sb ON cand_inc.doc_id_corpus = sb.doc_id
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
          >= 0.5
    """


@query("d50_incremental_neardup", oracle=_d50_oracle())
def d50_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-batch near-dup check: docs with doc_id % 5 == 0 play
    the daily NEW batch, the rest the standing corpus; pairs are
    new × corpus only (minhash_lsh_pairs_incremental — cost scales with
    the batch, never corpus²). The oracle bands everything and filters
    pair sides, which yields the identical candidate set."""
    from pymongraph_spark.operators.dedup import minhash_lsh_pairs_incremental

    docs = load_tables(spark, sf_dir)["documents"]
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return minhash_lsh_pairs_incremental(
        new, corpus, n=3, num_hashes=64, bands=16, threshold=0.5
    )


def _d49_oracle() -> str:
    ctes, final = _d45_parts()
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({final}),
    und AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
      UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
    ),
    reach(id, root) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.id
    )
    SELECT id AS doc_id,
           MIN(root) AS cluster_id,
           MIN(root) = id AS is_canonical
    FROM reach GROUP BY id
    """


@query("d49_neardup_clusters", oracle=_d49_oracle())
def d49_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — the step after pair generation that an
    actual training-data pipeline needs: candidate pairs (engine-neutral
    MinHash banding, same plan as d45) → undirected connected components
    (hash-min label propagation, one shuffle per iteration) → per-cluster
    canonical representative = min doc_id. ``is_canonical`` is the
    keep-one decision; dropping rows where it is false IS the dedup.

    At 100 TB the pair graph is tiny relative to the corpus (only docs
    with ≥1 near-dup appear), so the CC loop runs on the reduced vertex
    set, not the corpus. Oracle: DuckDB WITH RECURSIVE transitive
    closure + MIN(root) per node over the identical pair set.
    """
    from pymongraph_spark.operators.dedup import minhash_lsh_pairs_neutral
    from pymongraph_spark.operators.graph_algos import connected_components, endpoint_ids

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = minhash_lsh_pairs_neutral(
        docs, n=3, num_hashes=64, bands=16, threshold=0.5
    ).select("doc_id_a", "doc_id_b")
    verts = endpoint_ids(pairs, "doc_id_a", "doc_id_b").distinct()
    edges = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    comp = connected_components(verts, edges, max_iter=200)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("id")).alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# Brute-force cosine top-k similarity search (exact baseline).
# DuckDB oracle recomputes the identical left-fold dot product.
# --------------------------------------------------------------------------
_SQL_COSINE = """
list_reduce(list_transform(list_zip(q.embedding, c.embedding),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
            (acc, x) -> acc + x)
/ (sqrt(list_reduce(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b))
   * sqrt(list_reduce(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a,b) -> a+b)))
"""


@query(
    "s50_cosine_topk_bruteforce",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS cosine_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def s50_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    return brute_force_topk(emb, queries, k=5)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs — exact all-pairs mode is the oracle
# baseline (strict left-fold cosine, bit-stable); the LSH candidate mode
# is the 100 TB path, equivalence-tested in test_graph_algos.py.
# Threshold 0.45 → 14 pairs at sf0.01 (non-vacuous; corpus max cosine
# ≈ 0.513).
# --------------------------------------------------------------------------
@query(
    "d44_embedding_near_dup",
    oracle=f"""
    SELECT q.vec_id AS id_a, c.vec_id AS id_b, {_SQL_COSINE} AS cosine_sim
    FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
    WHERE {_SQL_COSINE} >= 0.45
    """,
)
def d44_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import embedding_dup_pairs

    emb = load_tables(spark, sf_dir)["embeddings"]
    return embedding_dup_pairs(emb, threshold=0.45, method="exact")


# --------------------------------------------------------------------------
# Same near-dup semantics through the SCALE path: sign-LSH banded candidate
# generation (equi-join on bucket keys, O(n·tables + candidates)) + exact
# cosine verification. Config 4 planes × 16 tables × radius-2 probing is
# recall-complete here by a wide margin (per-pair miss ~1e-14 at cosine
# 0.45), so it hash-matches the SAME all-pairs oracle as d44 — the gate
# proves the bucketed plan, not just the O(n²) baseline.
# --------------------------------------------------------------------------
@query(
    "d47_embedding_near_dup_lsh",
    oracle=f"""
    SELECT q.vec_id AS id_a, c.vec_id AS id_b, {_SQL_COSINE} AS cosine_sim
    FROM embeddings q JOIN embeddings c ON q.vec_id < c.vec_id
    WHERE {_SQL_COSINE} >= 0.45
    """,
)
def d47_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import embedding_dup_pairs

    emb = load_tables(spark, sf_dir)["embeddings"]
    return embedding_dup_pairs(
        emb, threshold=0.45, method="lsh", dim=64,
        n_planes=4, n_tables=16, probe_radius=2,
    )


# --------------------------------------------------------------------------
# Sign-LSH approximate top-k — bucketed scale path; hyperplanes are a
# seeded numpy constant the oracle can't reproduce → rows-only gate, with
# recall vs s50 asserted in unit tests. Config = 4 tables × 8 planes ×
# radius-2 probing: candidate fraction 4·37/2^8 ≈ 0.58 of brute force
# (scale-invariant — per-bucket occupancy grows linearly with n), recall
# 32/40 on the near-uniform sf0.01 corpus.
# --------------------------------------------------------------------------
@query("s51_cosine_topk_lsh")
def s51_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(
        emb, queries, dim=64, k=5, n_planes=8, probe_radius=2, n_tables=4
    )


# --------------------------------------------------------------------------
# Per-label embedding centroids — array op + decimal-exact per-dimension
# mean (posexplode → groupBy), a common training-data QA aggregate.
# --------------------------------------------------------------------------
@query(
    "s52_embedding_centroids",
    # Floats are cast to double BEFORE decimal quantization: Spark's
    # float→decimal goes through the float's shortest string repr (~9
    # digits) while DuckDB uses the exact binary value — double-first makes
    # both see the same real number. Scale 9 keeps the repr-vs-binary
    # rounding disagreement probability ~1e-8 per value.
    oracle="""
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(val) AS centroid_val,
           COUNT(*) AS n_vectors
    FROM (
      SELECT label,
             unnest(embedding) AS val,
             unnest([i for i in generate_series(0, len(embedding) - 1)]) AS dim
      FROM embeddings
    )
    WHERE dim < 8
    GROUP BY label, dim
    """,
)
def s52_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    exploded = emb.select("label", F.posexplode("embedding").alias("dim", "val")).filter(
        F.col("dim") < 8
    )
    return exploded.groupBy("label", "dim").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(38,9)")).cast("double")
            / F.count("val")
        ).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


# --------------------------------------------------------------------------
# Text analysis: token counts per language.
# --------------------------------------------------------------------------
@query(
    "t60_token_stats_by_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS total_tokens,
           CAST(MAX(len({_SQL_TOKS})) AS BIGINT) AS max_tokens,
           CAST(SUM(len({_SQL_TOKS})) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def t60_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    tc = token_count("text")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc).alias("total_tokens"),
        F.max(tc).alias("max_tokens"),
        (F.sum(tc).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


# --------------------------------------------------------------------------
# Quality scoring: deterministic per-doc features + composite score.
# --------------------------------------------------------------------------
@query(
    "t61_quality_scores",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct_count,
             CAST(len(list_filter(toks, t -> t IN ({",".join("'" + w + "'" for w in STOPWORDS)}))) AS BIGINT) AS stopword_count
      FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    )
    SELECT doc_id, n_tokens, n_chars, punct_count, stopword_count,
           0.5 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
           + 0.25 * (1.0 - least(CASE WHEN n_chars > 0
                                      THEN CAST(punct_count AS DOUBLE) / CAST(n_chars AS DOUBLE)
                                      ELSE 0.0 END * 5, 1.0))
           + 0.25 * least(CASE WHEN n_tokens > 0
                               THEN CAST(stopword_count AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                               ELSE 0.0 END * 4, 1.0) AS quality
    FROM feat
    """,
)
def t61_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    f = quality_features("text")
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        f["n_chars"].alias("n_chars"),
        f["punct_count"].alias("punct_count"),
        f["stopword_count"].alias("stopword_count"),
        quality_score("text").alias("quality"),
    )


# --------------------------------------------------------------------------
# Language-ID heuristic (marker-word argmax) vs the labeled lang column.
# --------------------------------------------------------------------------
def _sql_lang_case() -> str:
    scores = {
        lang: f"len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n".join(
        f"WHEN {scores[lang]} > 0 AND {scores[lang]} = {best} THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    return f"CASE {whens} ELSE 'und' END"


@query(
    "t62_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS actual_lang,
           {_sql_lang_case()} AS predicted_lang,
           ({_sql_lang_case()} = lang) AS is_correct
    FROM (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents)
    """,
)
def t62_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    pred = predict_lang("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting: order-insensitive token-bag md5; groups whose
# members permute the same words collide.
# --------------------------------------------------------------------------
@query(
    "t63_fingerprint_groups",
    oracle=f"""
    SELECT md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')) AS fp,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def t63_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# Multimodal plumbing: binary payload column + Arrow-batched decode stub.
# The payload derivation (md5-unhex) is SQL-expressible, so even the
# mapInPandas path gets an oracle: the fake decoder's byte_len and
# mean_intensity are recomputed in SQL.
# --------------------------------------------------------------------------
@query(
    "m70_multimodal_decode",
    # The fake payload is unhex(repeat(md5(text), 4)) → 64 bytes. DuckDB
    # recomputes the byte sum from the md5 hex pairs (16 bytes × 4 repeats).
    oracle="""
    WITH media AS (
      SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents
    )
    SELECT doc_id,
           CAST(64 AS BIGINT) AS byte_len,
           CAST(4 * list_reduce(
                 [ (strpos('0123456789abcdef', substr(h, 2*i-1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(h, 2*i, 1)) - 1)
                   for i in generate_series(1, 16) ],
                 (a, b) -> a + b) AS DOUBLE) / 64 / 255.0 AS mean_intensity
    FROM media
    """,
)
def m70_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    media = attach_fake_media(docs)
    decoded = decode_media(media, fake=True)
    return decoded.select("doc_id", "byte_len", "mean_intensity")


# --------------------------------------------------------------------------
# Video frame sampling: multi-frame binary payload (frame i = md5 bytes of
# text#i) → mapInPandas samples every 2nd frame. The oracle recomputes
# each sampled frame's byte mean from the md5 hex pairs, proving the
# Arrow-side slicing/sampling math, not just row counts.
# --------------------------------------------------------------------------
@query(
    "m71_frame_sample",
    oracle="""
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(list_reduce(
                 [ (strpos('0123456789abcdef', substr(md5(coalesce(text, '') || '#' || i), 2*j-1, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(md5(coalesce(text, '') || '#' || i), 2*j, 1)) - 1)
                   for j in generate_series(1, 16) ],
                 (a, b) -> a + b) AS DOUBLE) / 16 / 255.0 AS frame_mean
    FROM documents, (VALUES (0), (2), (4), (6)) g(i)
    """,
)
def m71_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.multimodal import attach_fake_video, frame_sample

    docs = load_tables(spark, sf_dir)["documents"]
    media = attach_fake_video(docs, n_frames=8)
    return frame_sample(media, every_k=2)


# --------------------------------------------------------------------------
# TF-IDF text analysis built from exact relational ops (explode → tf, df,
# smoothed idf) — no HashingTF, so it's fully oracle-checkable. ln() is
# rounded to 9dp before use (Java Math.log vs libm can differ by 1 ulp).
# --------------------------------------------------------------------------
@query(
    "t64_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS c FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * round(ln((n.c + 1.0) / (dfreq.df + 1.0)), 9), 6) AS tfidf
      FROM tf, dfreq, n WHERE tf.term = dfreq.term
    )
    SELECT doc_id, term, tf, tfidf, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3 AND doc_id < 50
    """,
)
def t64_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir)["documents"]
    n_docs = docs.count()
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(F.log(F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1)).cast("double")), 9)
    scored = tf.join(F.broadcast(dfreq), on="term").select(
        "doc_id", "term", "tf",
        F.round(F.col("tf").cast("double") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 3) & (F.col("doc_id") < 50))
    )


# --------------------------------------------------------------------------
# BPE-ish token counting — subword-boundary pre-tokenizer (contractions,
# space-prefixed letter/digit/punct runs), the "tokens the model will see"
# estimator. Same lookaround-free regex under Java regex and RE2.
# --------------------------------------------------------------------------
@query(
    "t65_bpe_token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\x0B\\f\\r'']+'
           )) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\x0B\\f\\r'']+'
           )) AS DOUBLE)
             / greatest(len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> x <> '')), 1)
             AS fertility
    FROM documents
    """,
)
def t65_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.functions.text import bpe_ish_token_count

    docs = load_tables(spark, sf_dir)["documents"]
    bpe = bpe_ish_token_count("text")
    ws = token_count("text")
    return docs.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        (bpe.cast("double") / F.greatest(ws, F.lit(1)).cast("double")).alias("fertility"),
    )


# --------------------------------------------------------------------------
# Arrow-vectorized cosine top-k — the production fast path (one numpy
# matmul per Arrow batch). numpy reorders float sums (SIMD blocking), so
# no cross-engine oracle; unit tests assert ranking equivalence with s50
# within 1e-9.
# --------------------------------------------------------------------------
@query("s53_cosine_topk_vectorized")
def s53_cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.similarity import brute_force_topk_vectorized

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries_pdf = emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").toPandas()
    return brute_force_topk_vectorized(emb, queries_pdf, k=5)


# --------------------------------------------------------------------------
# IVF similarity search — the coarse-quantization scale path. Centroids
# here are a deterministic seed set (vec_id < 16) so DuckDB can replicate
# the full pipeline: assignment (argmax cosine, tie → min centroid),
# same-cell candidate join, exact re-rank.
# --------------------------------------------------------------------------
@query(
    "s54_ivf_topk",
    oracle=f"""
    WITH cents AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
    cos_assign AS (
      SELECT c.vec_id AS vid, q.vec_id AS cid, {_SQL_COSINE} AS sim
      FROM embeddings c, cents q
    ),
    assign AS (
      SELECT vid, cid AS cell FROM (
        SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY sim DESC, cid) AS rn
        FROM cos_assign
      ) WHERE rn = 1
    ),
    cands AS (
      SELECT qa.vid AS query_id, ca.vid AS neighbor_id, {_SQL_COSINE} AS cosine_sim
      FROM assign qa
        JOIN assign ca ON qa.cell = ca.cell AND ca.vid <> qa.vid
        JOIN embeddings q ON q.vec_id = qa.vid
        JOIN embeddings c ON c.vec_id = ca.vid
      WHERE qa.vid < 8
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rnk
      FROM cands
    ) WHERE rnk <= 3
    """,
)
def s54_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.similarity import ivf_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    centroids = emb.filter(F.col("vec_id") < 16)
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_topk(emb, queries, centroids, k=3)


# --------------------------------------------------------------------------
# IVF with LEARNED centroids, exact-grid tier (g48 recipe): the Lloyd's
# loop runs on a scaled-integer grid — floor-quantized inputs, integer
# L2² assignment, truncated-division mean updates — so the whole learn +
# probe + re-rank pipeline is bit-identical across engines and the
# oracle replays it verbatim as unrolled CTEs (fixed iteration count).
# The float-path operator (kmeans_centroids + ivf_topk, decimal-mean
# determinism, cosine metric) remains the production API, pinned by the
# recall/determinism unit tests in test_graph_algos.py.
# --------------------------------------------------------------------------
# single source of truth for the grid constants: the Spark operators.
from pymongraph_spark.operators.similarity import (  # noqa: E402
    GRID_SCALE as _GRID_SCALE,
    _WHOLE_VEC,
)


def _grid_cells_cte(k_cells: int, iters: int, subdims: int, scale: int) -> str:
    """The unrolled-CTE prefix shared by every exact-grid oracle: quantize
    → md5-smallest seeds → `iters` Lloyd rounds → final assignment `bf`
    (vec_id, sub, cell). Split out of _grid_oracle so the hierarchical
    oracle (_hier_oracle) can stack a per-coarse-cell fine phase on the
    same coarse arithmetic."""
    parts = [
        f"""
    WITH ex AS (
      SELECT vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS val,
             unnest([i for i in generate_series(0, len(embedding) - 1)]) AS dim
      FROM embeddings
    ),
    q AS (SELECT vec_id, dim, CAST(floor(val * {scale}) AS BIGINT) AS qv FROM ex),
    ranked_ids AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS cell
      FROM (SELECT DISTINCT vec_id FROM embeddings)
    ),
    seeds AS (SELECT CAST(cell AS BIGINT) AS cell, vec_id
              FROM ranked_ids WHERE cell < {k_cells}),
    c0 AS (SELECT s.cell, q.dim, q.qv AS cv FROM seeds s JOIN q USING (vec_id))"""
    ]
    # one Lloyd iteration = assign (a), best cell (b), mean update (c)
    for i in range(1, iters + 1):
        parts.append(f"""
    , a{i} AS (
      SELECT q.vec_id, q.dim // {subdims} AS sub, c.cell,
             SUM((q.qv - c.cv) * (q.qv - c.cv)) AS d
      FROM q JOIN c{i - 1} c ON q.dim = c.dim
      GROUP BY q.vec_id, sub, c.cell
    ), b{i} AS (
      SELECT vec_id, sub, cell FROM (
        SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
        FROM a{i}) WHERE rn = 1
    ), c{i} AS (
      SELECT b.cell, q.dim, SUM(q.qv) // COUNT(*) AS cv
      FROM b{i} b JOIN q ON q.vec_id = b.vec_id AND q.dim // {subdims} = b.sub
      GROUP BY b.cell, q.dim
    )""")
    # final assignment over the learned codebook (corpus cells / codes)
    parts.append(f"""
    , af AS (
      SELECT q.vec_id, q.dim // {subdims} AS sub, c.cell,
             SUM((q.qv - c.cv) * (q.qv - c.cv)) AS d
      FROM q JOIN c{iters} c ON q.dim = c.dim
      GROUP BY q.vec_id, sub, c.cell
    ), bf AS (
      SELECT vec_id, sub, cell FROM (
        SELECT vec_id, sub, cell,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
        FROM af) WHERE rn = 1
    )""")
    return "".join(parts)


def _grid_oracle(
    k_cells: int,
    iters: int,
    subdims: int,
    mode: str,
    n_queries: int = 8,
    topk: int = 3,
    scale: int = _GRID_SCALE,
    threshold: int = 0,
) -> str:
    """Unrolled-CTE DuckDB oracle for the exact-grid k-means family.
    mode='ivf': single-cell probe + exact integer-L2 re-rank (s57).
    mode='adc': PQ lookup-table asymmetric distance over the final
    per-subspace assignment as codes (s59).
    mode='semdedup': within-cluster integer-L2² pairs under `threshold`
    mark the higher id removed (d58). Mirrors
    operators/similarity.py grid_* step for step; `//` == Spark `div`
    (both truncate toward zero, verified)."""
    parts = [_grid_cells_cte(k_cells, iters, subdims, scale)]
    if mode == "ivf":
        parts.append(f"""
    , pairs AS (
      SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM bf qb JOIN bf cb ON qb.cell = cb.cell AND qb.sub = cb.sub
      WHERE qb.vec_id < {n_queries} AND cb.vec_id <> qb.vec_id
    ), pd AS (
      SELECT p.query_id, p.neighbor_id,
             CAST(SUM((q1.qv - q2.qv) * (q1.qv - q2.qv)) AS BIGINT) AS l2sq
      FROM pairs p
      JOIN q q1 ON q1.vec_id = p.query_id
      JOIN q q2 ON q2.vec_id = p.neighbor_id AND q2.dim = q1.dim
      GROUP BY p.query_id, p.neighbor_id
    )
    SELECT query_id, neighbor_id, l2sq, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, l2sq,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY l2sq, neighbor_id) AS rank
      FROM pd) WHERE rank <= {topk}""")
    elif mode == "adc":
        parts.append(f"""
    , lut AS (
      SELECT q.vec_id AS query_id, q.dim // {subdims} AS sub, c.cell,
             SUM((q.qv - c.cv) * (q.qv - c.cv)) AS part
      FROM q JOIN c{iters} c ON q.dim = c.dim
      WHERE q.vec_id < {n_queries}
      GROUP BY query_id, sub, c.cell
    ), adct AS (
      SELECT l.query_id, e.vec_id AS neighbor_id, CAST(SUM(l.part) AS BIGINT) AS adc
      FROM bf e JOIN lut l ON l.sub = e.sub AND l.cell = e.cell
      WHERE e.vec_id <> l.query_id
      GROUP BY l.query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adc, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, neighbor_id) AS rank
      FROM adct) WHERE rank <= {topk}""")
    elif mode == "semdedup":
        parts.append(f"""
    , pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bf a JOIN bf b ON a.cell = b.cell AND a.sub = b.sub
                         AND a.vec_id < b.vec_id
    ), pd AS (
      SELECT p.id_a, p.id_b,
             SUM((q1.qv - q2.qv) * (q1.qv - q2.qv)) AS l2sq
      FROM pr p
      JOIN q q1 ON q1.vec_id = p.id_a
      JOIN q q2 ON q2.vec_id = p.id_b AND q2.dim = q1.dim
      GROUP BY p.id_a, p.id_b
      HAVING SUM((q1.qv - q2.qv) * (q1.qv - q2.qv)) <= {threshold}
    ), rem AS (
      SELECT id_b AS vec_id, MIN(id_a) AS dup_of FROM pd GROUP BY id_b
    )
    SELECT c.vec_id, c.cell,
           CAST(r.dup_of IS NOT NULL AS INT) AS removed, r.dup_of
    FROM (SELECT vec_id, cell FROM bf) c LEFT JOIN rem r USING (vec_id)""")
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return "".join(parts)


@query("s57_ivf_kmeans_topk", oracle=_grid_oracle(16, 2, _WHOLE_VEC, "ivf"))
def s57_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.similarity import ivf_kmeans_topk_exact

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_kmeans_topk_exact(emb, queries, k_clusters=16, iters=2, k=3)


# --------------------------------------------------------------------------
# Embedding outlier detection (training-data QA): vectors unusually far
# from their label centroid (z-score of centroid distance > 2). The
# corpus is unit-normalized, so NORM outliers are degenerate — distance
# to the per-label centroid is the meaningful signal. Determinism: every
# computed double is quantized to integer UNITS via floor(x * 10^k)
# BEFORE any cross-row sum — floor of an identical IEEE double is
# identical in every engine, integer sums are order-free, and all later
# arithmetic runs on identical doubles in identical op order. (The
# previous decimal-cast strategy was only probabilistically stable for
# computed doubles: CAST(double AS DECIMAL) rounds half-up via exact
# conversion in Spark but through a double multiply in DuckDB, and a
# sqrt output lands on a disagreeing boundary with ~2e-4 probability
# per cast — one hit surfaced at sf0.1.)
# --------------------------------------------------------------------------
@query(
    "s55_embedding_outliers",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label,
             CAST(unnest(embedding) AS DOUBLE) AS val,
             unnest([i for i in generate_series(0, len(embedding) - 1)]) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             CAST(SUM(CAST(floor(val * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS c
      FROM ex GROUP BY label, dim
    ),
    dist AS (
      SELECT ex.vec_id, ex.label,
             sqrt(CAST(SUM(CAST(floor((ex.val - cent.c) * (ex.val - cent.c) * 1e15)
                                AS BIGINT)) AS DOUBLE) / 1e15) AS d
      FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
      GROUP BY ex.vec_id, ex.label
    ),
    stats AS (
      SELECT label,
             CAST(SUM(CAST(floor(d * 1e12) AS BIGINT)) AS DOUBLE)
               / COUNT(*) / 1e12 AS mean_d,
             sqrt(greatest(
                  CAST(SUM(CAST(floor(d * d * 1e12) AS BIGINT)) AS DOUBLE)
                    / COUNT(*) / 1e12
                  - (CAST(SUM(CAST(floor(d * 1e12) AS BIGINT)) AS DOUBLE)
                       / COUNT(*) / 1e12)
                    * (CAST(SUM(CAST(floor(d * 1e12) AS BIGINT)) AS DOUBLE)
                         / COUNT(*) / 1e12),
                  0.0)) AS std_d
      FROM dist GROUP BY label
    )
    SELECT n.vec_id, n.label, n.d AS centroid_dist,
           CASE WHEN s.std_d > 0 THEN (n.d - s.mean_d) / s.std_d END AS z_score
    FROM dist n JOIN stats s ON n.label = s.label
    WHERE s.std_d > 0 AND abs((n.d - s.mean_d) / s.std_d) > 2.0
    """,
)
def s55_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]

    def units(col, scale):
        # floor(x·10^k) as BIGINT: identical IEEE product → identical floor
        # in every engine, unlike CAST(double AS DECIMAL) (see block doc)
        return F.floor(col * F.lit(scale))

    ex = emb.select(
        "vec_id", "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias("dim", "val"),
    )
    cent = ex.groupBy("label", "dim").agg(
        (F.sum(units(F.col("val"), 1e12)).cast("double") / F.count(F.lit(1)) / F.lit(1e12))
        .alias("c")
    )
    diff2 = (F.col("val") - F.col("c")) * (F.col("val") - F.col("c"))
    dist = (
        ex.join(cent, on=["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(F.sum(units(diff2, 1e15)).cast("double") / F.lit(1e15)).alias("d")
        )
    )
    mean_expr = (
        F.sum(units(F.col("d"), 1e12)).cast("double") / F.count(F.lit(1)) / F.lit(1e12)
    )
    stats = dist.groupBy("label").agg(
        mean_expr.alias("mean_d"),
        F.sqrt(
            F.greatest(
                F.sum(units(F.col("d") * F.col("d"), 1e12)).cast("double")
                / F.count(F.lit(1)) / F.lit(1e12)
                - mean_expr * mean_expr,
                F.lit(0.0),
            )
        ).alias("std_d"),
    )
    z = (F.col("d") - F.col("mean_d")) / F.col("std_d")
    return (
        dist.join(F.broadcast(stats), on="label")
        .filter(F.col("std_d") > 0)
        .select("vec_id", "label", F.col("d").alias("centroid_dist"), z.alias("z_score"))
        .filter(F.abs(F.col("z_score")) > 2.0)
    )


# --------------------------------------------------------------------------
# int8 embedding quantization — the 4× vector-compression step an ANN
# index runs before sharding. Symmetric per-vector scale (127/max|x|),
# floor quantization (identical in both engines, unlike round/cast whose
# tie-breaking differs), and the verification statistics are exact:
# checksum is an integer position-weighted sum, mse a left-fold in
# declared order, so both hash-match bit-for-bit.
# --------------------------------------------------------------------------
@query(
    "s56_int8_quantization",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             len(embedding) AS n_dims,
             list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS max_abs,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings
      WHERE len(embedding) > 0
    ),
    qq AS (
      SELECT vec_id, n_dims, max_abs,
             CASE WHEN max_abs > 0 THEN 127.0 / max_abs ELSE 0.0 END AS scale,
             list_transform(x, v -> CAST(floor(v * (CASE WHEN max_abs > 0 THEN 127.0 / max_abs ELSE 0.0 END)) AS BIGINT)) AS qv,
             x
      FROM q
    )
    SELECT vec_id,
           CAST(n_dims AS INT) AS n_dims,
           max_abs,
           list_reduce(list_transform(list_zip(qv, generate_series(1, n_dims)),
                                      p -> p[1] * p[2]),
                       (a, b) -> a + b) AS checksum,
           list_reduce(list_transform(list_zip(x, qv),
                                      p -> (p[1] - (CASE WHEN scale > 0 THEN p[2] / scale ELSE 0.0 END))
                                           * (p[1] - (CASE WHEN scale > 0 THEN p[2] / scale ELSE 0.0 END))),
                       (a, b) -> a + b) / n_dims AS mse
    FROM qq
    """,
)
def s56_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # zero-length embeddings are excluded on BOTH sides: the oracle's
    # list_reduce errors on an empty list (and mse would divide by 0), so
    # a drifted generation would otherwise surface as an opaque oracle
    # crash instead of a diagnosable mismatch (ADVICE r4).
    emb = load_tables(spark, sf_dir)["embeddings"].filter(F.size("embedding") > 0)
    x = F.transform("embedding", lambda v: v.cast("double"))
    max_abs = F.array_max(F.transform(x, F.abs))
    scale = F.when(max_abs > 0, F.lit(127.0) / max_abs).otherwise(F.lit(0.0))
    qv = F.transform(x, lambda v: F.floor(v * scale).cast("bigint"))
    base = emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        max_abs.alias("max_abs"),
        scale.alias("scale"),
        qv.alias("qv"),
        x.alias("x"),
    )
    checksum = F.aggregate(
        F.zip_with("qv", F.sequence(F.lit(1).cast("bigint"), F.col("n_dims").cast("bigint")), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    err = F.zip_with(
        "x",
        "qv",
        lambda xv, qvv: (
            xv - F.when(F.col("scale") > 0, qvv / F.col("scale")).otherwise(F.lit(0.0))
        )
        * (xv - F.when(F.col("scale") > 0, qvv / F.col("scale")).otherwise(F.lit(0.0))),
    )
    mse = F.aggregate(err, F.lit(0.0), lambda acc, v: acc + v) / F.col("n_dims")
    return base.select(
        "vec_id",
        F.col("n_dims").cast("int").alias("n_dims"),
        "max_abs",
        checksum.alias("checksum"),
        mse.alias("mse"),
    )


# --------------------------------------------------------------------------
# Engine-neutral SimHash — same idea as d45: the xxhash64 fingerprint of
# d43 stays rows-only, but a 48-bit simhash built from md5 token hashes is
# reproducible in ANSI SQL, putting the full fingerprint → chunk-banding →
# Hamming-verify pipeline under the hash-match gate. The sf0.01 corpus has
# no Hamming≤3 pair, so the gate emits every pair that shares a 12-bit
# chunk with its exact Hamming distance — non-vacuous at every scale, and
# the ≤3 near-dup decision is just a filter on the emitted column.
# --------------------------------------------------------------------------
_D46_MAX_HAMMING = 48  # emit all chunk-sharing pairs; see comment above


def _d46_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, list_distinct({_SQL_TOKS}) AS toks FROM documents
    ),
    th AS (
      SELECT doc_id,
             list_reduce([CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)
                          for i in generate_series(1, 12)],
                         (acc, x) -> acc * 16 + x) AS h
      FROM (SELECT doc_id, unnest(toks) AS t FROM d WHERE len(toks) >= 1)
    ),
    bits AS (SELECT unnest(generate_series(0, 47)) AS b),
    cnt AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h // (CAST(1 AS BIGINT) << b)) % 2 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, bits GROUP BY doc_id, b
    ),
    sh AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS simhash
      FROM cnt GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, simhash, i AS chunk,
             (simhash // (CAST(1 AS BIGINT) << (12 * i))) % 4096 AS chunk_val
      FROM sh, (SELECT unnest(generate_series(0, 3)) AS i) t(i)
    )
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
    """


@query("d46_simhash_oracle", oracle=_d46_oracle())
def d46_simhash_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import simhash_pairs_neutral
    from pymongraph_spark.functions.text import tokens

    docs = load_tables(spark, sf_dir)["documents"]
    docs = docs.filter(F.size(tokens("text")) >= 1)
    pairs = simhash_pairs_neutral(docs, max_hamming=_D46_MAX_HAMMING)
    return pairs.select("doc_id_a", "doc_id_b", F.col("hamming").cast("bigint").alias("hamming"))


# --------------------------------------------------------------------------
# Sequence packing — the concat-and-chunk idiom of LLM pretraining: within
# each language shard, documents are laid out in doc_id order and chopped
# into fixed 4096-token context bins by exclusive-cumsum division. The
# window is per-lang (the shard key), so packing parallelizes across
# shards at scale instead of forcing a global sort. All-integer → exact.
# --------------------------------------------------------------------------
@query(
    "t66_sequence_packing",
    oracle=f"""
    WITH tc AS (
      SELECT lang, doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT lang, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS offset_tokens
      FROM tc
    )
    SELECT lang, CAST(offset_tokens // 4096 AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc
    FROM placed GROUP BY lang, bin
    """,
)
def t66_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    placed = docs.select(
        "lang", "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    ).withColumn("offset_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        placed.groupBy("lang", (F.col("offset_tokens") / 4096).cast("bigint").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


_SQL_BUCKET1000 = """
    list_reduce([CAST(strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                 for i in generate_series(1, 8)],
                (acc, x) -> acc * 16 + x) % 1000
"""


@query(
    "t70_stratified_sample",
    oracle=f"""
    WITH freq AS (
      SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang
    ),
    rates AS (
      SELECT lang, n_total,
             least(1.0, sqrt(CAST((SELECT MIN(n_total) FROM freq) AS DOUBLE)
                             / CAST(n_total AS DOUBLE))) AS rate
      FROM freq
    ),
    sampled AS (
      SELECT d.lang, COUNT(*) AS n_sampled
      FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE {_SQL_BUCKET1000} < r.rate * 1000
      GROUP BY d.lang
    )
    SELECT r.lang, r.n_total, r.rate,
           COALESCE(s.n_sampled, 0) AS n_sampled
    FROM rates r LEFT JOIN sampled s ON r.lang = s.lang
    """,
)
def t70_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (inverse-sqrt-frequency) sampling — the
    multilingual data-mixing op: dominant languages are downsampled
    toward sqrt(min/n), the rarest language is kept whole. Membership is
    a pure function of doc_id (md5 bucket vs per-stratum rate), never
    random(): reruns and incremental corpus growth keep every previous
    decision, and any engine recomputes the same sample. One aggregate +
    one broadcast join — no shuffle of the corpus at 100 TB.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    freq = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    mn = freq.agg(F.min("n_total").alias("min_n"))
    rates = freq.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_total",
        F.least(
            F.lit(1.0),
            F.sqrt(F.col("min_n").cast("double") / F.col("n_total").cast("double")),
        ).alias("rate"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % 1000
    )
    sampled = (
        docs.join(F.broadcast(rates), on="lang")
        .filter(bucket < F.col("rate") * 1000)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        rates.join(sampled, on="lang", how="left")
        .select(
            "lang",
            "n_total",
            "rate",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        )
    )


def _sql_quality_expr() -> str:
    """The t61 composite quality score as one SQL expression over columns
    (text, toks) — kept textually in sync with functions.text.quality_score
    (t61's hash-match pins the equivalence)."""
    stop = ",".join("'" + w + "'" for w in STOPWORDS)
    return f"""
      0.5 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
      + 0.25 * (1.0 - least(CASE WHEN length(text) > 0
                                 THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                                      / CAST(length(text) AS DOUBLE)
                                 ELSE 0.0 END * 5, 1.0))
      + 0.25 * least(CASE WHEN len(toks) > 0
                          THEN CAST(len(list_filter(toks, t -> t IN ({stop}))) AS DOUBLE)
                               / CAST(len(toks) AS DOUBLE)
                          ELSE 0.0 END * 4, 1.0)
    """


def _t71_oracle() -> str:
    ctes, final = _d45_parts()
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({final}),
    und AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
      UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
    ),
    reach(id, root) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.id
    ),
    clusters AS (
      SELECT id AS doc_id, MIN(root) = id AS is_canonical FROM reach GROUP BY id
    ),
    scored AS (
      SELECT doc_id, toks, {_sql_quality_expr()} AS quality
      FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    ),
    kept AS (
      SELECT s.doc_id, s.toks
      FROM scored s LEFT JOIN clusters c ON s.doc_id = c.doc_id
      WHERE s.quality >= 0.5 AND COALESCE(c.is_canonical, TRUE)
    )
    SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
    FROM (
      SELECT doc_id, toks,
             list_reduce([CAST(strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                          for i in generate_series(1, 8)],
                         (acc, x) -> acc * 16 + x) % 100 AS bucket
      FROM kept
    ) GROUP BY 1
    """


@query("t71_corpus_selection", oracle=_t71_oracle())
def t71_corpus_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus builder — the composition a real
    pipeline runs nightly: quality-score every document (t61's exact
    scorer), drop non-canonical near-duplicates (d49's MinHash→connected-
    components keep-one), then assign deterministic train/val/test splits
    (t67's hash buckets) and report per-split document and token budgets.
    Every stage is a previously hash-matched primitive; this query pins
    their composition under one oracle.

    Scale shape: quality scoring and split assignment are per-row column
    expressions (no shuffle); the dedup join touches only docs that
    appear in a near-dup cluster (≪ corpus); the final aggregate is a
    3-group hash-agg. Nothing materializes the corpus on the driver.
    """
    from pymongraph_spark.operators.dedup import minhash_lsh_pairs_neutral
    from pymongraph_spark.operators.graph_algos import connected_components, endpoint_ids

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = (
        minhash_lsh_pairs_neutral(docs, n=3, num_hashes=64, bands=16, threshold=0.5)
        .select("doc_id_a", "doc_id_b")
    )
    verts = endpoint_ids(pairs, "doc_id_a", "doc_id_b").distinct()
    edges = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    clusters = connected_components(verts, edges, max_iter=200).select(
        F.col("id").alias("doc_id"),
        (F.col("component") == F.col("id")).alias("is_canonical"),
    )
    kept = (
        docs.select("doc_id", quality_score("text").alias("quality"), token_count("text").alias("n_tokens"))
        # no broadcast hint: cluster membership = every doc with ≥1
        # near-dup, which on a crawl corpus can be a large fraction of
        # rows — let AQE pick broadcast vs SMJ from the actual size.
        .join(clusters, on="doc_id", how="left")
        .filter((F.col("quality") >= 0.5) & F.coalesce("is_canonical", F.lit(True)))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return kept.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# Shard manifest — the write-side step that feeds a training job: every
# document gets a deterministic shard (md5 bucket, never round-robin or
# random — reruns and appends keep placements), and the manifest reports
# per-shard document/token budgets so the trainer can verify balance
# before reading a byte. At 100 TB this is df.write.partitionBy(shard)
# plus this aggregate; shard count is the parallelism knob.
# --------------------------------------------------------------------------
@query(
    "t72_shard_manifest",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_reduce([CAST(strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                          for i in generate_series(1, 8)],
                         (acc, x) -> acc * 16 + x) % 8 AS shard_id,
             len(list_filter(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS n_tokens
      FROM documents
    )
    SELECT CAST(shard_id AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM s GROUP BY shard_id
    """,
)
def t72_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME expression the sharded writer uses (operators/sink.py):
    # one definition keeps the planned manifest and the written layout in
    # agreement by construction, not by hand-synced copies
    from pymongraph_spark.operators.sink import shard_expr

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("doc_id", shard_expr("doc_id", 8).alias("shard_id"), token_count("text").alias("n_tokens"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split — hash-based (never random()): bucket
# = first 8 md5 hex digits of the doc id, mod 100 → 80/10/10. Rerunning on
# a grown corpus keeps every previously-assigned document in its split,
# which is what makes hash splits (not row_number ranges) the correct
# at-scale design. md5 keeps the assignment engine-neutral.
# --------------------------------------------------------------------------
@query(
    "t67_deterministic_split",
    oracle="""
    WITH b AS (
      SELECT lang,
             list_reduce([CAST(strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                          for i in generate_series(1, 8)],
                         (acc, x) -> acc * 16 + x) % 100 AS bucket
      FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
)
def t67_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.groupBy("lang", split.alias("split")).agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# Python UDTF (Spark 4 table function surface): sentence segmentation as
# a lateral join — each document row expands to (sentence_idx, sentence,
# n_chars) rows. UDTFs are row-at-a-time Python (the slow path — fine for
# API parity; the vectorized twin of this shape is mapInPandas, m70/m71).
# Trim charset is pinned to ASCII whitespace so the oracle's trim()
# matches Python's strip() exactly.
# --------------------------------------------------------------------------
@query(
    "t68_sentence_split_udtf",
    oracle="""
    WITH fl AS (
      SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                                        s -> trim(s, ' ' || chr(9) || chr(10) || chr(13))),
                         s -> s <> '') AS sentences
      FROM documents
    )
    SELECT doc_id,
           CAST(generate_subscripts(sentences, 1) - 1 AS INT) AS sentence_idx,
           unnest(sentences) AS sentence
    FROM fl
    """,
)
def t68_sentence_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx: int, sentence: string")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for seg in _re.split(r"[.!?]+", text):
                seg = seg.strip(" \t\n\r")
                if seg:
                    yield idx, seg
                    idx += 1

    spark.udtf.register("split_sentences", SplitSentences)
    load_tables(spark, sf_dir)["documents"].createOrReplaceTempView("__docs_t68")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence
        FROM __docs_t68 d, LATERAL split_sentences(d.text) s
        """
    )


# --------------------------------------------------------------------------
# applyInPandas grouped-map (the Arrow-batched per-group transform under
# the gate; the vectorized twin of the t68 UDTF). Each language shard
# arrives as one pandas frame; outputs are exact integers so the result
# hash-matches SQL. At scale the shard is the parallelism unit — same
# partitioning story as t66.
# --------------------------------------------------------------------------
@query(
    "t69_grouped_map_doc_stats",
    oracle="""
    WITH agg AS (
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang
    ),
    top AS (
      SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents) WHERE rn = 1
    )
    SELECT a.lang, a.n_docs, a.total_chars, CAST(t.doc_id AS BIGINT) AS longest_doc_id
    FROM agg a JOIN top t ON a.lang = t.lang
    """,
)
def t69_grouped_map_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # longest doc, min doc_id on ties — deterministic
        top = pdf.sort_values(["n_chars", "doc_id"], ascending=[False, True]).iloc[0]
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "total_chars": [int(pdf["n_chars"].sum())],
                "longest_doc_id": [int(top["doc_id"])],
            }
        )

    docs = load_tables(spark, sf_dir)["documents"]
    return docs.groupBy("lang").applyInPandas(
        stats, "lang string, n_docs long, total_chars long, longest_doc_id long"
    )


# --------------------------------------------------------------------------
# Multimodal resize plumbing — dims ride as metadata columns next to the
# blob (the production layout: resize planning never decodes), derived
# here from md5(text) hex bytes so the oracle can recompute them; the
# integer floor-scale aspect math is exact in both engines. The payload
# transform itself runs in mapInPandas (stub resample, real binary out);
# the gate compares the metadata plane.
# --------------------------------------------------------------------------
_M72_HEXB = (
    "(strpos('0123456789abcdef', substr(md5(coalesce(text, '')), {p}, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(coalesce(text, '')), {p1}, 1)) - 1)"
)


@query(
    "m72_resize_metadata",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             16 + ({_M72_HEXB.format(p=1, p1=2)}) % 64 AS width,
             16 + ({_M72_HEXB.format(p=3, p1=4)}) % 64 AS height,
             1 + ({_M72_HEXB.format(p=5, p1=6)}) % 3 AS n_channels
      FROM documents
    )
    SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(CASE WHEN greatest(width, height) <= 32 THEN width
                     ELSE greatest(1, (width * 32) // greatest(width, height)) END AS INT) AS new_width,
           CAST(CASE WHEN greatest(width, height) <= 32 THEN height
                     ELSE greatest(1, (height * 32) // greatest(width, height)) END AS INT) AS new_height,
           CAST((CASE WHEN greatest(width, height) <= 32 THEN width
                      ELSE greatest(1, (width * 32) // greatest(width, height)) END)
                * (CASE WHEN greatest(width, height) <= 32 THEN height
                        ELSE greatest(1, (height * 32) // greatest(width, height)) END)
                * n_channels AS BIGINT) AS out_bytes
    FROM dims
    """,
)
def m72_resize_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.multimodal import attach_fake_media, resize_media

    docs = load_tables(spark, sf_dir)["documents"]
    hexb = lambda p: (
        F.conv(
            F.substring(F.md5(F.coalesce(F.col("text"), F.lit(""))), p, 2), 16, 10
        ).cast("int")
    )
    media = attach_fake_media(docs).join(
        docs.select(
            "doc_id",
            (16 + hexb(1) % 64).alias("width"),
            (16 + hexb(3) % 64).alias("height"),
            (1 + hexb(5) % 3).alias("n_channels"),
        ),
        on="doc_id",
    )
    resized = resize_media(media, max_side=32)
    return resized.select("doc_id", "width", "height", "new_width", "new_height", "out_bytes")


# --------------------------------------------------------------------------
# Multimodal feature extraction — byte-histogram features in long format
# (doc_id, bin, value), the nested-array-free layout. The fake payload is
# repeat(md5-bytes, 4), so each bin's count is 4× the count of md5 hex
# digits at odd positions equal to the bin id — fully SQL-recomputable,
# proving the mapInPandas batch shape end to end.
# --------------------------------------------------------------------------
@query(
    "m73_byte_histogram_features",
    oracle="""
    SELECT doc_id, CAST(b AS INT) AS bin,
           CAST(4 * len(list_filter([strpos('0123456789abcdef', substr(md5(coalesce(text, '')), 2*j - 1, 1)) - 1
                                     for j in generate_series(1, 16)],
                                    d -> d = b)) AS DOUBLE) / 64 AS value
    FROM documents, (SELECT unnest(generate_series(0, 15)) AS b) bins
    """,
)
def m73_byte_histogram_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.multimodal import attach_fake_media, extract_features

    docs = load_tables(spark, sf_dir)["documents"]
    return extract_features(attach_fake_media(docs), n_bins=16)


# --------------------------------------------------------------------------
# REAL (non-fake) multimodal decode: genuine RIFF/WAV payloads parsed by
# the stdlib-wave codec resolved through the decoder registry — the
# fake=False path under the hash-match gate. The synth samples are
# (doc_id*31 + i*7) % 256, so every decoded statistic is recomputable in
# SQL; |amplitude| values are k/128 (k ≤ 128), making the mean exact in
# doubles regardless of summation order.
# --------------------------------------------------------------------------
@query(
    "m74_wav_decode_real",
    oracle="""
    SELECT doc_id,
           'audio/wav' AS media_type,
           CAST(108 AS BIGINT) AS byte_len,
           CAST(8000 AS INT) AS width,
           CAST(64 AS INT) AS height,
           CAST(1 AS INT) AS n_channels,
           list_reduce([abs((((doc_id * 31 + i * 7) % 256 + 256) % 256) - 128) / 128.0
                        for i in generate_series(0, 63)],
                       (a, b) -> a + b) / 64 AS mean_intensity
    FROM documents
    """,
)
def m74_wav_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.multimodal import attach_wav_audio

    docs = load_tables(spark, sf_dir)["documents"]
    return decode_media(attach_wav_audio(docs), fake=False)


# --------------------------------------------------------------------------
# REAL image decode: genuine uncompressed 24-bit BMP payloads parsed by
# the stdlib-struct codec through the decoder registry (longest-prefix
# match routes image/bmp past the generic PIL entry). Pixel i of doc d is
# (d*13 + i*5) % 256 on all three channels, and the decoder normalizes by
# 256, so the mean is exact in doubles and the oracle match bit-for-bit.
# Together with m74 this makes BOTH image and audio decode real (not
# faked) in a codec-lib-free container.
# --------------------------------------------------------------------------
@query(
    "m75_bmp_decode_real",
    oracle="""
    SELECT doc_id,
           'image/bmp' AS media_type,
           CAST(246 AS BIGINT) AS byte_len,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           list_reduce([(((doc_id * 13 + i * 5) % 256 + 256) % 256) / 256.0
                        for i in generate_series(0, 63)],
                       (a, b) -> a + b) / 64 AS mean_intensity
    FROM documents
    """,
)
def m75_bmp_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.multimodal import attach_bmp_image

    docs = load_tables(spark, sf_dir)["documents"]
    return decode_media(attach_bmp_image(docs), fake=False)


# ==========================================================================
# Round-5 additions: normalization, PII scanning, repetition metrics,
# mixture weights, RAG chunking, decontamination, hard-negative mining.
# All pure Column expressions with the staged-token discipline (tokens
# materialized as their own projection before any HOF consumes them —
# see operators/dedup.py:shingled for the interpreted-HOF pathology).
# ==========================================================================

# Spark and DuckDB share this normalization: lowercase → strip
# non-alphanumeric → collapse whitespace → trim. Only difference is
# DuckDB's explicit 'g' flag (Spark regexp_replace is global by default).
_NORM_RE_STRIP = r"[^a-z0-9 \t\n\x0B\f\r]"
_NORM_RE_WS = r"[ \t\n\x0B\f\r]+"


@query(
    "t73_normalize_stats",
    oracle="""
    WITH n AS (
      SELECT source,
             length(text) AS nb,
             length(trim(regexp_replace(regexp_replace(lower(text),
                          '[^a-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS na
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS chars_raw,
           CAST(SUM(na) AS BIGINT) AS chars_norm,
           CAST(SUM(nb) - SUM(na) AS DOUBLE) / SUM(nb) AS removed_ratio
    FROM n GROUP BY source
    """,
)
def t73_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup/punctuation-strip normalization pass with per-source loss
    accounting — the first stage of a crawl-cleaning pipeline. One
    codegen'd projection + one partial-aggregated groupBy; the ratio is
    a single exact-int division (bit-stable across engines)."""
    docs = load_tables(spark, sf_dir)["documents"]
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), _NORM_RE_STRIP, ""),
            _NORM_RE_WS,
            " ",
        )
    )
    nb = F.sum("nb")
    na = F.sum("na")
    return (
        docs.select(
            "source",
            F.length("text").cast("bigint").alias("nb"),
            F.length(norm).cast("bigint").alias("na"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            nb.alias("chars_raw"),
            na.alias("chars_norm"),
            # try_divide: a source whose docs are all empty has SUM(nb)=0 —
            # the oracle yields NULL; plain / would raise under ANSI
            F.try_divide((nb - na).cast("double"), nb).alias("removed_ratio"),
        )
    )


# PII patterns shared verbatim between engines (Java regex and RE2 agree
# on these constructs: character classes, bounded repetition). Digit runs
# of ≥2 are the number-redaction target (ids, amounts); a strict
# email-shape pattern is carried to prove the multi-pattern plumbing.
_PII_NUMRUN_RE = r"[0-9]{2,}"
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


@query(
    "t74_pii_scan",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(len(regexp_extract_all(props, '[0-9]{2,}')))
                AS BIGINT) AS n_number_runs,
           CAST(SUM(CASE WHEN regexp_matches(props,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_email_hits,
           CAST(SUM(length(regexp_replace(props, '[0-9]{2,}', '[NUM]', 'g')))
                AS BIGINT) AS redacted_chars
    FROM events GROUP BY event_type
    """,
)
def t74_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/number detection + redaction accounting over the raw event
    payloads (digit runs are real hits in this corpus, not a vacuous
    zero-match): per event type, digit-run counts, email-shape hits, and
    the redacted-payload length proof. All regex work is JVM-side; the
    aggregate is partial (map-side combined), so at corpus scale the
    shuffle carries one row per event type."""
    events = load_tables(spark, sf_dir)["events"]
    return (
        events.select(
            "event_type",
            F.size(F.regexp_extract_all(F.col("props"), F.lit(_PII_NUMRUN_RE), 0))
            .cast("bigint")
            .alias("runs"),
            F.when(F.col("props").rlike(_PII_EMAIL_RE), 1).otherwise(0).alias("email"),
            F.length(F.regexp_replace(F.col("props"), _PII_NUMRUN_RE, "[NUM]"))
            .cast("bigint")
            .alias("red_len"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("runs").cast("bigint").alias("n_number_runs"),
            F.sum("email").cast("bigint").alias("n_email_hits"),
            F.sum("red_len").cast("bigint").alias("redacted_chars"),
        )
    )


@query(
    "t75_repetition_metrics",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS distinct_tokens,
             [array_to_string(toks[i:i+2], ' ')
              for i in generate_series(1, greatest(len(toks) - 2, 0))] AS grams
      FROM tk WHERE len(toks) >= 3
    ),
    m AS (
      SELECT doc_id, n_tokens, distinct_tokens,
             CAST(len(grams) AS BIGINT) AS n_grams,
             CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_grams
      FROM g
    )
    SELECT doc_id, n_tokens, distinct_tokens, n_grams, distinct_grams,
           CAST(n_grams - distinct_grams AS DOUBLE) / n_grams AS gram_dup_ratio,
           CAST(distinct_tokens AS DOUBLE) / n_tokens AS ttr
    FROM m
    WHERE CAST(n_grams - distinct_grams AS DOUBLE) / n_grams >= 0.01
    """,
)
def t75_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filter: duplicated-3-gram ratio + type-token
    ratio, keeping docs above 1% gram duplication (the boilerplate /
    looping-generation signature). Note the 3-grams here keep duplicates
    (word_shingles dedups; repetition is exactly the signal it discards).
    Both ratios are exact-int divisions — bit-stable across engines."""
    docs = load_tables(spark, sf_dir)["documents"]
    staged = docs.filter(token_count("text") >= 3).select(
        "doc_id", tokens("text").alias("toks")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
    )
    metered = staged.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("distinct_tokens"),
        grams.alias("grams"),
    ).select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.size(F.array_distinct("grams")).cast("bigint").alias("distinct_grams"),
        # localCheckpoint = pushdown barrier: without it the dup_ratio
        # filter below is alias-substituted through both projects into a
        # scan-level predicate carrying the WHOLE gram construction —
        # tokenization re-inlined per index, every row paying the build
        # twice (the InferFiltersFromGenerate cousin documented at
        # shingled_grams; measured 14 s → ~4 s at sf1). The checkpointed
        # frame is five integers per doc.
    ).localCheckpoint(eager=False)
    dup_ratio = (F.col("n_grams") - F.col("distinct_grams")).cast("double") / F.col(
        "n_grams"
    )
    return metered.select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        "n_grams",
        "distinct_grams",
        dup_ratio.alias("gram_dup_ratio"),
        (F.col("distinct_tokens").cast("double") / F.col("n_tokens")).alias("ttr"),
    ).filter(F.col("gram_dup_ratio") >= 0.01)


@query(
    "t76_mixture_weights",
    oracle=f"""
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS g FROM per),
    w AS (
      SELECT source, n_docs, total_tokens,
             sqrt(CAST(total_tokens AS DOUBLE) / g) AS weight
      FROM per, tot
    ),
    z AS (SELECT list_reduce(list(weight ORDER BY source NULLS FIRST), (a, b) -> a + b) AS z FROM w)
    SELECT source, n_docs, total_tokens, weight, weight / z AS norm_weight
    FROM w, z
    """,
)
def t76_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixture (alpha = 0.5, the multilingual /
    Pile-style upsampling shape): per-source sampling weight proportional
    to sqrt(token share), normalized. The normalizer is an ORDERED left
    fold over sources (sorted collect_list → F.aggregate) so the
    floating-point sum is bit-identical in both engines — an unordered
    SUM() over doubles would hash-mismatch on addition order. Scale: the
    per-source frame is domain-cardinality-sized (tiny), so the sorted
    collect + broadcast of the normalizer is O(#domains)."""
    docs = load_tables(spark, sf_dir)["documents"]
    per = (
        docs.select("source", token_count("text").alias("tc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tc").cast("bigint").alias("total_tokens"),
        )
    )
    tot = per.agg(F.sum("total_tokens").cast("bigint").alias("g"))
    w = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        F.sqrt(F.col("total_tokens").cast("double") / F.col("g")).alias("weight"),
    )
    z = w.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("source", "weight"))),
            F.lit(0.0),
            lambda acc, x: acc + x["weight"],
        ).alias("z")
    )
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "total_tokens",
        "weight",
        (F.col("weight") / F.col("z")).alias("norm_weight"),
    )


@query(
    "t77_token_chunks",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    st AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks), 24)) AS start
      FROM tk WHERE len(toks) >= 1
    )
    SELECT doc_id,
           CAST((start - 1) // 24 AS INT) AS chunk_idx,
           CAST(len(toks[start:start+31]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(toks[start:start+31], ' ')) AS chunk_hash
    FROM st
    """,
)
def t77_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style fixed-size chunking: 32-token windows on a 24-token
    stride (8-token overlap), one output row per chunk with a content
    hash. Pure explode — no shuffle at all; at 100 TB this is a map-only
    stage whose output partitioning inherits the input's."""
    docs = load_tables(spark, sf_dir)["documents"]
    staged = docs.filter(token_count("text") >= 1).select(
        "doc_id", tokens("text").alias("toks")
    )
    exploded = staged.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(24))).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), 32)
    return exploded.select(
        "doc_id",
        F.floor((F.col("start") - 1) / 24).cast("int").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@query(
    "t78_chunk_dedup",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    st AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks), 16)) AS start
      FROM tk WHERE len(toks) >= 1
    ),
    ch AS (
      SELECT doc_id,
             CAST((start - 1) // 16 AS INT) AS chunk_idx,
             md5(array_to_string(toks[start:start+15], ' ')) AS h
      FROM st
    ),
    ranked AS (
      SELECT doc_id, chunk_idx, h,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
      FROM ch
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
    FROM ranked GROUP BY doc_id
    """,
)
def t78_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup — the RefinedWeb/CCNet repeated-passage
    removal shape applied to non-overlapping 16-token spans: a span
    occurring in many documents is kept only at its globally-first
    (doc_id, chunk_idx) site. Scale shape: spans come from a map-only
    explode; the survivor per content hash is a partial-aggregating
    groupBy-min on uniform md5 keys (never a corpus-wide window sort);
    the keep/drop flag is an equi-join on that hash. The per-doc rollup
    is a second partial agg. Nothing is corpus × corpus and the only
    shuffles are on uniformly-distributed hash keys."""
    docs = load_tables(spark, sf_dir)["documents"]
    staged = docs.filter(token_count("text") >= 1).select(
        "doc_id", tokens("text").alias("toks")
    )
    ch = (
        staged.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(16))).alias("start"),
        )
        .select(
            "doc_id",
            F.floor((F.col("start") - 1) / 16).cast("int").alias("chunk_idx"),
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("start"), 16))).alias("h"),
        )
    )
    surv = ch.groupBy("h").agg(F.min(F.struct("doc_id", "chunk_idx")).alias("s"))
    flagged = ch.join(surv, on="h").select(
        "doc_id",
        (
            (F.col("s.doc_id") == F.col("doc_id"))
            & (F.col("s.chunk_idx") == F.col("chunk_idx"))
        )
        .cast("bigint")
        .alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("kept")).cast("bigint").alias("n_dup"),
    )


# DuckDB fold reproducing Spark's conv(substr(md5(doc_id),1,8),16,10)%100
# split bucket (shared with t67's oracle).
_SQL_SPLIT_BUCKET = """
    list_reduce([CAST(strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                 for i in generate_series(1, 8)],
                (acc, x) -> acc * 16 + x) % 100
"""


@query(
    "d52_decontamination",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {_SQL_SPLIT_BUCKET} AS bucket, {_SQL_TOKS} AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, bucket, {_SQL_SHINGLES} AS grams
      FROM b WHERE len(toks) >= 3
    ),
    ev AS (
      SELECT DISTINCT unnest(grams) AS gram, doc_id AS eval_doc
      FROM sh WHERE bucket >= 90
    ),
    tr AS (
      SELECT doc_id, unnest(grams) AS gram
      FROM sh WHERE bucket < 80
    )
    SELECT tr.doc_id AS doc_id,
           CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs
    FROM tr JOIN ev ON tr.gram = ev.gram
    GROUP BY tr.doc_id
    """,
)
def d52_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag TRAIN documents sharing any
    distinct word-3-gram with the held-out TEST split (t67's md5 split:
    bucket >= 90 is eval, < 80 is train). The standard benchmark-leak
    sweep before training. Shape at 100 TB: shingle once (staged
    tokens), explode both sides, equi-join on the gram — the eval side
    is the small fraction of the corpus and its distinct gram set is
    the join's build side; the aggregate is partial. Nothing is ever
    corpus × corpus."""
    docs = load_tables(spark, sf_dir)["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    from pymongraph_spark.operators.dedup import shingled_grams

    # bucket is a pure function of doc_id, so each side filters its DOCS
    # before shingling (optimization r14, guide §2.3): the post-explode
    # filter shape shingled 100% of the corpus per consumer vs 10% + 80%
    # now. The fused explode inside shingled_grams still avoids the
    # InferFiltersFromGenerate re-inlining hazard (the doc_id filter
    # never references the gram array).
    ev = (
        shingled_grams(docs.filter(bucket >= 90), n=3)
        .select("gram", F.col("doc_id").alias("eval_doc"))
        .distinct()
    )
    tr = shingled_grams(docs.filter(bucket < 80), n=3)
    return (
        tr.join(ev, on="gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").cast("bigint").alias("n_shared_grams"),
            F.countDistinct("eval_doc").cast("bigint").alias("n_eval_docs"),
        )
    )


@query(
    "s58_hard_negatives",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             {_SQL_COSINE} AS cosine_sim
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < 8 AND c.label <> q.label
    ),
    ranked AS (
      SELECT query_id, neighbor_id, neighbor_label, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def s58_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-3 most-similar corpus vectors with a DIFFERENT label — the
    near-miss negatives that make embedding models learn. Same plan as
    s50 (queries broadcast, corpus never shuffles before scoring) plus
    the label-mismatch predicate evaluated pre-score."""
    from pymongraph_spark.functions.vectors import cosine as _cos

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("__qlabel"),
        F.col("embedding").alias("__qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("__cv"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("__qlabel"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            _cos(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)


@query(
    "t79_feature_hashing",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    hh AS (
      SELECT doc_id,
             list_reduce([CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)
                          for i in generate_series(1, 8)],
                         (acc, x) -> acc * 16 + x) AS h
      FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
    )
    SELECT doc_id,
           CAST(h % 16 AS INT) AS bucket,
           CAST(SUM(CASE WHEN h % 32 < 16 THEN 1 ELSE -1 END) AS BIGINT) AS value
    FROM hh GROUP BY doc_id, h % 16
    """,
)
def t79_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text featurizer (the Vowpal-Wabbit / sklearn
    HashingVectorizer shape): every token hashes to one of 16 signed
    buckets (sign = hash bit 4, which debiases collisions in
    expectation), and a document's feature vector is the signed count
    per bucket — emitted in long format (doc_id, bucket, value), the
    layout a downstream sparse-matrix assembler wants. Stateless and
    vocabulary-free, which is the point at 100 TB: no dictionary fit,
    no broadcast vocab, just one explode + one partial-aggregating
    groupBy on (doc_id, bucket). Integer arithmetic end to end."""
    docs = load_tables(spark, sf_dir)["documents"]
    ex = docs.filter(token_count("text") >= 1).select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    return (
        ex.select(
            "doc_id",
            (h % 16).cast("int").alias("bucket"),
            F.when(h % 32 < 16, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("bigint").alias("value"))
    )


@query(
    "t80_bigram_collocations",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    uni AS (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY tok
    ),
    bi AS (
      SELECT w1, w2, COUNT(*) AS n_ab
      FROM (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
              FROM tk WHERE len(toks) >= 2)
      ) GROUP BY w1, w2
    ),
    tot AS (SELECT SUM(n) AS nn FROM uni),
    totb AS (SELECT SUM(n_ab) AS mm FROM bi)
    SELECT w1, w2, n_ab,
           CAST(n_ab AS DOUBLE) * nn * nn / mm / a.n / b.n AS lift
    FROM bi JOIN uni a ON w1 = a.tok JOIN uni b ON w2 = b.tok, tot, totb
    WHERE n_ab >= 5
    ORDER BY lift DESC, w1, w2 LIMIT 20
    """,
)
def t80_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent word pairs by lift =
    P(ab) / (P(a)·P(b)) — the log-free PMI variant, so the score is a
    chain of double multiplications/divisions over exact integer counts
    written in the SAME left-associative order in both engines (logs
    would diverge in the last ulp across libm implementations; ratios
    cannot). Scale shape: bigrams come from a staged-token explode
    (map-only), both count tables are partial aggs on uniform keys, the
    two unigram joins are small-dim joins AQE can broadcast, and the
    top-20 is a global sort of the already-aggregated bigram frame."""
    docs = load_tables(spark, sf_dir)["documents"]
    staged = docs.filter(token_count("text") >= 1).select(
        "doc_id", tokens("text").alias("toks")
    )
    uni = (
        staged.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("w1"),
            F.element_at("toks", i + F.lit(1)).alias("w2"),
        ),
    )
    bi = (
        staged.filter(F.size("toks") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    nn = uni.agg(F.sum("n").alias("nn"))
    mm = bi.agg(F.sum("n_ab").alias("mm"))
    a = uni.select(F.col("tok").alias("w1"), F.col("n").alias("n_a"))
    b = uni.select(F.col("tok").alias("w2"), F.col("n").alias("n_b"))
    scored = (
        bi.filter(F.col("n_ab") >= 5)
        .join(a, on="w1")
        .join(b, on="w2")
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(mm))
        .select(
            "w1",
            "w2",
            "n_ab",
            (
                F.col("n_ab").cast("double")
                * F.col("nn")
                * F.col("nn")
                / F.col("mm")
                / F.col("n_a")
                / F.col("n_b")
            ).alias("lift"),
        )
    )
    return (
        scored.orderBy(F.desc("lift"), "w1", "w2").limit(20)
    )


@query("s59_pq_adc_topk", oracle=_grid_oracle(32, 2, 8, "adc"))
def s59_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, exact-grid tier: per-subspace integer
    codebooks (m=8 subspaces of 8 dims, k=32 codewords, 2 Lloyd
    iterations on the scaled-integer grid), corpus encoded as its final
    assignment, top-3 by ADC — per-query (sub, cell) lookup-table parts
    summed along each neighbor's codes. Exact integer arithmetic end to
    end, so the unrolled-CTE oracle is bit-identical (same g48 recipe as
    s57). The float PQ stack (pq_codebooks/pq_encode/pq_topk_adc, L2
    Lloyd's with deduplicated seeds over the normalized corpus) remains
    the production path, pinned by test_similarity_pq.py (codeword-exact
    ADC == true distance, determinism, recall floor)."""
    from pymongraph_spark.operators.similarity import pq_adc_topk_exact

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    return pq_adc_topk_exact(emb, queries, m=8, k_codewords=32, iters=2, k=3)


@query(
    "t81_inverted_index",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    ex AS (SELECT doc_id, unnest(toks) AS term FROM tk)
    SELECT term,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS tf_total,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
    FROM ex GROUP BY term
    """,
)
def t81_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted text index — term → sorted posting list with document
    frequency and total term frequency: the structure retrieval (t82),
    decontamination probes, and corpus-statistics jobs consume. One
    explode + one partial-aggregating groupBy on the term; postings are
    emitted as a comma-joined sorted string (engine-neutral canonical
    form). At 100 TB the posting list of a stop-word-grade term is the
    classic skew cell — real deployments shard those terms (doc-range
    postings) exactly like the salted-agg pattern in operators/skew.py;
    AQE's skew handling covers the aggregate here."""
    docs = load_tables(spark, sf_dir)["documents"]
    # staged token array; explode (non-outer) drops empty docs itself,
    # so no pre-filter — a token_count filter would tokenize twice
    ex = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", F.explode("toks").alias("term")
    )
    return ex.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df"),
        F.count(F.lit(1)).cast("bigint").alias("tf_total"),
        F.array_join(F.sort_array(F.collect_set("doc_id")), ",").alias("postings"),
    )


_BM25_TERMS = ("spark", "join", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tk WHERE len(toks) >= 1),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
    ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM ex WHERE term IN ({terms}) GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM ex WHERE term IN ({terms}) GROUP BY term
    ),
    comp AS (
      SELECT tf.doc_id, tf.term,
             (CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1)
              / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / (CAST(stats.total_dl AS DOUBLE) / stats.n))))
             * ((stats.n - df.df + 0.5) / (df.df + 0.5)) AS c
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
              JOIN df ON tf.term = df.term, stats
    ),
    scored AS (
      SELECT doc_id,
             list_reduce(list_transform(list_sort(list(struct_pack(t := term, c := c))),
                                        p -> p.c),
                         (a, b) -> a + b) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM comp GROUP BY doc_id
    )
    SELECT doc_id, n_terms, score
    FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """


@query("t82_bm25_topk", oracle=_bm25_oracle())
def t82_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (rational-idf variant) for a fixed term set: per
    (doc, term), tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) weighted by the
    odds-form idf (N−df+0.5)/(df+0.5) — the standard BM25 shape with
    the log dropped from the idf, because ln() differs in the last ulp
    across libm implementations while a pure product/division chain in
    fixed order is bit-exact cross-engine (the per-term ranking is
    unchanged: log is monotone). Per-doc score sums the term components
    in sorted-term order (ordered fold, like t76's normalizer).

    Scale shape: tf and df are partial aggs on (doc, term)/(term); the
    df table is query-term-sized and broadcasts; dl joins on doc_id;
    the global top-20 sorts only the already-aggregated scored frame."""
    docs = load_tables(spark, sf_dir)["documents"]
    staged = docs.filter(token_count("text") >= 1).select(
        "doc_id", tokens("text").alias("toks")
    )
    dl = staged.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("total_dl"),
    )
    ex = staged.select("doc_id", F.explode("toks").alias("term")).filter(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    dfreq = ex.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n")
    comp = (
        tf.join(dl, on="doc_id")
        .join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                (
                    F.col("tf").cast("double") * (_BM25_K1 + 1)
                    / (
                        F.col("tf")
                        + _BM25_K1
                        * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
                    )
                )
                * (
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
            ).alias("c"),
        )
    )
    scored = comp.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(20).select(
        "doc_id", "n_terms", "score"
    )


# --------------------------------------------------------------------------
# Domain-capped sampling ("domain balancing", CCNet-style): keep at most K
# docs per source, selected deterministically by md5(doc_id) order so the
# sample is stable across runs and appends. The Spark side is two-phase:
# a hash-threshold PRE-PRUNE (per-source cutoff ~4K/n of the uniform hash
# space, broadcast) shrinks each partition to ~4K rows before the exact
# row_number window — at 100 TB the window never sees a whole mega-domain.
# A per-source survivor check falls back to the unpruned leg if the prune
# was too aggressive (probability ~e^-K, but correctness must not be
# probabilistic). The oracle is the direct single-window formulation —
# identical output, different physical plan.
# --------------------------------------------------------------------------
_T83_K = 10


@query(
    "t83_domain_capped_sample",
    oracle=f"""
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_T83_K}
    """,
)
def t83_domain_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    # hex prefix as uniform int: lexicographic order of the full hex digest
    # agrees with numeric order of its prefix, so a prefix cutoff keeps a
    # superset of the K smallest digests whenever it keeps >= K rows.
    pref = F.conv(F.substring("h", 1, 8), 16, 10).cast("long")
    docs = docs.withColumn("pref", pref).persist()
    try:
        counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
        space = float(16**8)
        cutoff = F.least(
            F.lit(space),
            F.ceil(F.lit(space) * F.lit(4.0 * _T83_K) / F.col("n_total")).cast("double"),
        ).alias("cutoff")
        lim = counts.select("source", "n_total", cutoff)
        pruned = docs.join(F.broadcast(lim), on="source").filter(
            F.col("pref") <= F.col("cutoff")
        )
        surv = pruned.groupBy("source").agg(F.count(F.lit(1)).alias("n_surv"))
        # sources where the prune kept fewer than min(K, n) rows must take
        # the exact leg (deterministic correctness, never sampling luck)
        short = (
            lim.join(surv, on="source", how="left")
            .filter(
                F.coalesce("n_surv", F.lit(0)) < F.least(F.lit(_T83_K), F.col("n_total"))
            )
            .select("source")
        )
        base = pruned.join(F.broadcast(short), on="source", how="left_anti").select(
            "doc_id", "source", "h"
        ).unionByName(
            docs.join(F.broadcast(short), on="source", how="left_semi").select(
                "doc_id", "source", "h"
            )
        )
        w = Window.partitionBy("source").orderBy("h", "doc_id")
        out = (
            base.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= _T83_K)
            .select("doc_id", "source", "rk")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        docs.unpersist()
    return out


# --------------------------------------------------------------------------
# Quality-percentile filtering: per-language p75 length cutoff (keep the
# long tail), the standard "top quartile per language" corpus gate.
# percentile_disc selects an ACTUAL data value — no interpolation
# arithmetic, so the cutoff is bit-identical across engines. One small
# aggregate (|langs| rows) broadcast back over the corpus; the corpus
# itself is scanned twice but never shuffled by a wide key.
# --------------------------------------------------------------------------
@query(
    "t84_quality_percentile_filter",
    oracle="""
    WITH cut AS (
      SELECT lang,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS cutoff
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           CAST(MIN(cut.cutoff) AS BIGINT) AS cutoff,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN d.n_chars >= cut.cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN d.n_chars >= cut.cutoff THEN d.n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM documents d JOIN cut ON d.lang = cut.lang
    GROUP BY d.lang
    """,
)
def t84_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    cut = docs.groupBy("lang").agg(
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").alias("cutoff")
    )
    kept = F.col("n_chars") >= F.col("cutoff")
    return (
        docs.join(F.broadcast(cut), on="lang")
        .groupBy("lang")
        .agg(
            F.min("cutoff").cast("bigint").alias("cutoff"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).cast("bigint").alias("kept_chars"),
        )
    )


# --------------------------------------------------------------------------
# Trajectory assembly: per-user sessions (4h inactivity gap, micro-second
# ordering — epoch seconds masked a real bug once, see the verify recipe)
# folded into an ordered action string — the events→training-sequences
# step of an agent/recommendation pipeline. collect_list is
# order-nondeterministic under parallelism, so the sort happens INSIDE
# the aggregate: array_sort over (us, event_id, type) structs, then
# project + join. One shuffle (user_id), window + agg share it.
# --------------------------------------------------------------------------
@query(
    "t85_trajectory_assembly",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      WHERE ts IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, event_id, event_type, us,
             CASE WHEN us - lag(us) OVER w > 14400000000
                       OR lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sessions AS (
      SELECT user_id, event_id, event_type, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           string_agg(event_type, '>' ORDER BY us, event_id) AS trajectory
    FROM sessions GROUP BY user_id, session_idx
    """,
)
def t85_trajectory_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drop NULL-ts events explicitly: Spark window ordering puts NULL
    # keys FIRST while DuckDB defaults to NULLS LAST, so an untimed event
    # would silently shift session boundaries differently per engine
    e = load_tables(spark, sf_dir)["events"].filter(F.col("ts").isNotNull())
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.select("user_id", "event_id", "event_type", us.alias("us")).withColumn(
        "is_new",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 14400 * 1_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return sessions.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("trajectory"),
    )


# --------------------------------------------------------------------------
# ANN recall evaluation: recall@3 of the IVF index (s54's fixed seed
# centroids) against the exact brute-force top-3 — the measurement any
# production ANN deployment gates on. Both sides and the join are fully
# SQL-expressible, so the whole evaluation pipeline is oracle-checked.
# LEFT join from exact: a query whose IVF cell lost all true neighbors
# still reports (recall may be < 1; at sf0.01 the seed cells are coarse).
# --------------------------------------------------------------------------
@query(
    "s60_ann_recall_eval",
    oracle=f"""
    WITH cents AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 16),
    cos_assign AS (
      SELECT c.vec_id AS vid, q.vec_id AS cid, {_SQL_COSINE} AS sim
      FROM embeddings c, cents q
    ),
    assign AS (
      SELECT vid, cid AS cell FROM (
        SELECT vid, cid, ROW_NUMBER() OVER (PARTITION BY vid ORDER BY sim DESC, cid) AS rn
        FROM cos_assign
      ) WHERE rn = 1
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qa.vid AS query_id, ca.vid AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qa.vid ORDER BY {_SQL_COSINE} DESC, ca.vid) AS rnk
        FROM assign qa
          JOIN assign ca ON qa.cell = ca.cell AND ca.vid <> qa.vid
          JOIN embeddings q ON q.vec_id = qa.vid
          JOIN embeddings c ON c.vec_id = ca.vid
        WHERE qa.vid < 8
      ) WHERE rnk <= 3
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_SQL_COSINE} DESC, c.vec_id) AS rnk
        FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
      ) WHERE rnk <= 3
    )
    SELECT e.query_id,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 3.0
             AS recall_at_3
    FROM exact e LEFT JOIN ivf i
      ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.query_id
    """,
)
def s60_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.similarity import ivf_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    centroids = emb.filter(F.col("vec_id") < 16)
    ivf = ivf_topk(emb, queries, centroids, k=3).select("query_id", "neighbor_id")
    exact = brute_force_topk(emb, queries, k=3).select("query_id", "neighbor_id")
    hit = F.col("i_nid").isNotNull()
    return (
        exact.join(
            ivf.withColumnRenamed("neighbor_id", "i_nid"),
            on=(exact["query_id"] == ivf["query_id"])
            & (exact["neighbor_id"] == F.col("i_nid")),
            how="left",
        )
        .select(exact["query_id"].alias("query_id"), "i_nid")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_matched"),
            (F.sum(F.when(hit, 1).otherwise(0)).cast("double") / F.lit(3.0)).alias(
                "recall_at_3"
            ),
        )
    )


# --------------------------------------------------------------------------
# Asymmetric containment pairs (quote / excerpt detection): the curation
# case Jaccard misses — a short doc quoted inside a long one has high
# |A∩B|/|A| but low Jaccard. Spark side is the prefix-filtered
# inverted-index join in operators/dedup.containment_pairs (prefix on
# the contained side only, positional pruning, verify on candidates);
# the oracle is the direct all-pairs formulation.
# --------------------------------------------------------------------------
@query(
    "d53_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, {_SQL_SHINGLES} AS shingles
      FROM (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_shared,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(a.shingles) AS containment
    FROM sh a JOIN sh b ON a.lang = b.lang
      AND (len(a.shingles) < len(b.shingles)
           OR (len(a.shingles) = len(b.shingles) AND a.doc_id < b.doc_id))
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(a.shingles) >= 0.8
    """,
)
def d53_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import containment_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    return containment_pairs(docs, n=3, threshold=0.8, block_cols=("lang",))


# --------------------------------------------------------------------------
# Quality-canonical near-dup dedup: d49 picks min-id per cluster; a real
# curation pipeline keeps the BEST member — here the longest (n_chars,
# ties → min doc_id). Same cluster machinery (engine-neutral MinHash
# pairs → hash-min CC on the pair graph only), then one max_by per
# cluster against the broadcast-sized doc-stats join. The keep policy is
# the only delta vs d49 — pipelines swap policies without touching the
# clustering.
# --------------------------------------------------------------------------
def _d54_oracle() -> str:
    ctes, final = _d45_parts()
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS ({final}),
    und AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
      UNION ALL SELECT doc_id_b, doc_id_a FROM pairs
    ),
    reach(id, root) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.id
    ),
    clusters AS (SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(d.n_chars) AS BIGINT) AS best_chars,
           (SELECT c2.doc_id FROM clusters c2 JOIN documents d2 ON d2.doc_id = c2.doc_id
            WHERE c2.cluster_id = clusters.cluster_id
            ORDER BY d2.n_chars DESC, c2.doc_id LIMIT 1) AS canonical_id
    FROM clusters JOIN documents d ON d.doc_id = clusters.doc_id
    GROUP BY cluster_id
    """


@query("d54_quality_canonical_dedup", oracle=_d54_oracle())
def d54_quality_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import minhash_lsh_pairs_neutral
    from pymongraph_spark.operators.graph_algos import connected_components, endpoint_ids

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = minhash_lsh_pairs_neutral(
        docs, n=3, num_hashes=64, bands=16, threshold=0.5
    ).select("doc_id_a", "doc_id_b")
    verts = endpoint_ids(pairs, "doc_id_a", "doc_id_b").distinct()
    edges = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    comp = connected_components(verts, edges, max_iter=200)
    stats = docs.select(F.col("doc_id").alias("id"), "n_chars")
    best = F.struct(F.col("n_chars").alias("q"), (-F.col("id")).alias("ni"))
    return (
        comp.join(stats, on="id")
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("n_chars").cast("bigint").alias("best_chars"),
            F.max_by("id", best).alias("canonical_id"),
        )
    )


# --------------------------------------------------------------------------
# Decontaminated train split — the pipeline COMPOSITION of t67 (md5
# split) and d52 (3-gram contamination sweep): train docs sharing any
# word-3-gram with the eval split are REMOVED (anti-join against the
# contaminated-id set), and the cleaned split ships per-lang counts.
# Short docs (< 3 tokens) carry no grams, can't be contaminated, stay.
# --------------------------------------------------------------------------
@query(
    "t86_decontaminated_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, {_SQL_SPLIT_BUCKET} AS bucket, {_SQL_TOKS} AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, bucket, {_SQL_SHINGLES} AS grams
      FROM b WHERE len(toks) >= 3
    ),
    ev AS (
      SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE bucket >= 90
    ),
    dirty AS (
      SELECT DISTINCT tr.doc_id
      FROM (SELECT doc_id, unnest(grams) AS gram FROM sh WHERE bucket < 80) tr
      JOIN ev ON tr.gram = ev.gram
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN dirty.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(COUNT(*) - SUM(CASE WHEN dirty.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM b LEFT JOIN dirty ON b.doc_id = dirty.doc_id
    WHERE b.bucket < 80
    GROUP BY lang
    """,
)
def t86_decontaminated_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import shingled_grams

    docs = load_tables(spark, sf_dir)["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    b = docs.select("doc_id", "lang", bucket.alias("bucket"))
    # bucket is a pure function of doc_id, so each side filters its DOCS
    # before shingling (optimization r14, guide §2.3): the post-explode
    # filter shape shingled 100% of the corpus per consumer vs 10% + 80%
    # now; no InferFiltersFromGenerate hazard (the doc_id filter never
    # references the gram array).
    ev_grams = (
        shingled_grams(docs.filter(bucket >= 90), n=3).select("gram").distinct()
    )
    dirty = (
        shingled_grams(docs.filter(bucket < 80), n=3)
        .join(ev_grams, on="gram", how="left_semi")
        .select("doc_id")
        .distinct()
    )
    train = b.filter(F.col("bucket") < 80)
    flagged = train.join(
        dirty.withColumn("__dirty", F.lit(1)), on="doc_id", how="left"
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.coalesce("__dirty", F.lit(0))).cast("bigint").alias("n_removed"),
        (F.count(F.lit(1)) - F.sum(F.coalesce("__dirty", F.lit(0))))
        .cast("bigint")
        .alias("n_kept"),
    )


# --------------------------------------------------------------------------
# Perceptual image dedup: dHash over the REAL BMP decode path (container
# parse → grayscale pixels → adjacent-pixel difference bits), grouped —
# identical hashes are perceptual duplicates. The image-side analogue of
# simhash: group/band on the hash at scale, never pixel all-pairs. The
# oracle recomputes the 56-bit hash from m75's pixel formula
# ((d*13 + i*5) % 256) entirely in SQL, so the whole decode→hash→group
# pipeline is hash-match gated with fake=False.
# --------------------------------------------------------------------------
@query(
    "m76_bmp_dhash_groups",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             list_reduce(
               [CAST(CASE WHEN ((doc_id*13 + ((k // 7) * 8 + (k % 7)) * 5) % 256 + 256) % 256
                             > ((doc_id*13 + ((k // 7) * 8 + (k % 7) + 1) * 5) % 256 + 256) % 256
                          THEN 1 ELSE 0 END AS BIGINT) * (CAST(1 AS BIGINT) << k)
                for k in generate_series(0, 55)],
               (a, b) -> a + b) AS dhash
      FROM documents
    )
    SELECT dhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
    FROM h GROUP BY dhash
    """,
)
def m76_bmp_dhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.multimodal import attach_bmp_image, dhash_media

    docs = load_tables(spark, sf_dir)["documents"]
    hashed = dhash_media(attach_bmp_image(docs))
    return hashed.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
    )


# --------------------------------------------------------------------------
# MinHash sketch-quality report: estimated vs exact Jaccard per LSH
# candidate pair, with absolute error — how a pipeline tunes
# (num_hashes, bands) before trusting the sketch on a real corpus.
# The estimate is matching-positions/num_hashes (an exact k/64 double);
# the error subtraction is the same two exact doubles in both engines.
# --------------------------------------------------------------------------
def _d55_oracle(num_hashes: int = 64) -> str:
    ctes, _ = _d45_parts(num_hashes=num_hashes)
    return f"""
    WITH {ctes},
    est AS (
      SELECT c.doc_id_a, c.doc_id_b,
             CAST(SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS DOUBLE)
               / {num_hashes} AS est_jaccard
      FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_id_a
        JOIN sig sb ON sb.doc_id = c.doc_id_b AND sb.i = sa.i
      GROUP BY c.doc_id_a, c.doc_id_b
    )
    SELECT est.doc_id_a, est.doc_id_b, est.est_jaccard,
           CAST(len(list_intersect(sha.shingles, shb.shingles)) AS DOUBLE)
             / (len(sha.shingles) + len(shb.shingles)
                - len(list_intersect(sha.shingles, shb.shingles))) AS jaccard,
           abs(est.est_jaccard
               - CAST(len(list_intersect(sha.shingles, shb.shingles)) AS DOUBLE)
                 / (len(sha.shingles) + len(shb.shingles)
                    - len(list_intersect(sha.shingles, shb.shingles)))) AS abs_err
    FROM est JOIN sh sha ON est.doc_id_a = sha.doc_id
             JOIN sh shb ON est.doc_id_b = shb.doc_id
    """


@query("d55_minhash_estimation_report", oracle=_d55_oracle())
def d55_minhash_estimation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import minhash_estimation_report

    docs = load_tables(spark, sf_dir)["documents"]
    return minhash_estimation_report(docs, n=3, num_hashes=64, bands=16)


# --------------------------------------------------------------------------
# Linear quality classifier over hashed features — "apply the trained
# model at corpus scale": weights are plan constants (the deployment
# shape: a model ships as a broadcast/literal, scoring is one JVM-side
# expression, no Python per row). Weights (b-8)/16 are exact binary
# fractions and the score is (Σ value·(b-8))/16 — all-integer then one
# division, bit-exact across engines.
# --------------------------------------------------------------------------
@query(
    "t87_linear_quality_classifier",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    hh AS (
      SELECT doc_id,
             list_reduce([CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)
                          for i in generate_series(1, 8)],
                         (acc, x) -> acc * 16 + x) AS h
      FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)
    ),
    feat AS (
      SELECT doc_id, h % 16 AS bucket,
             SUM(CASE WHEN h % 32 < 16 THEN 1 ELSE -1 END) AS value
      FROM hh GROUP BY doc_id, h % 16
    )
    SELECT doc_id,
           CAST(SUM(value * (bucket - 8)) AS DOUBLE) / 16.0 AS score,
           SUM(value * (bucket - 8)) > 0 AS keep
    FROM feat GROUP BY doc_id
    """,
)
def t87_linear_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    ex = docs.filter(token_count("text") >= 1).select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    feat = (
        ex.select(
            "doc_id",
            (h % 16).cast("int").alias("bucket"),
            F.when(h % 32 < 16, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("value"))
    )
    raw = F.sum(F.col("value") * (F.col("bucket") - 8))
    return feat.groupBy("doc_id").agg(
        (raw.cast("double") / F.lit(16.0)).alias("score"),
        (raw > 0).alias("keep"),
    )


# --------------------------------------------------------------------------
# Vocabulary growth (Heaps-law curve): cumulative token and distinct-type
# counts at four corpus prefixes (doc_id quartiles) — how vocabulary
# scales with corpus size, the statistic that sizes tokenizer vocab and
# predicts dedup headroom. One explode + ONE aggregate with conditional
# distinct counts (no per-prefix rescans); the quartile thresholds come
# from a 1-row max broadcast, all-integer comparisons.
# --------------------------------------------------------------------------
@query(
    "t88_vocabulary_growth",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    m AS (SELECT MAX(doc_id) + 1 AS n FROM documents)
    SELECT k,
           CAST(COUNT(CASE WHEN tk.doc_id * 4 < m.n * k THEN 1 END) AS BIGINT)
             AS n_tokens,
           CAST(COUNT(DISTINCT CASE WHEN tk.doc_id * 4 < m.n * k THEN tok END) AS BIGINT)
             AS n_vocab
    FROM tk, m, (SELECT unnest([1, 2, 3, 4]) AS k)
    GROUP BY k
    """,
)
def t88_vocabulary_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    ex = docs.filter(token_count("text") >= 1).select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    m = docs.agg((F.max("doc_id") + 1).alias("n"))
    quartiles = ex.sparkSession.range(1, 5).select(F.col("id").cast("int").alias("k"))
    return (
        ex.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(quartiles))
        .groupBy("k")
        .agg(
            F.count(F.when(F.col("doc_id") * 4 < F.col("n") * F.col("k"), 1))
            .cast("bigint")
            .alias("n_tokens"),
            F.countDistinct(
                F.when(F.col("doc_id") * 4 < F.col("n") * F.col("k"), F.col("tok"))
            )
            .cast("bigint")
            .alias("n_vocab"),
        )
    )


# --------------------------------------------------------------------------
# Bigram language-model scoring — the "how predictable is this text"
# quality signal, log-free: train the conditional model on the corpus
# (p(w2|w1) = c(w1,w2)/c(w1), exact counts), then score each document by
# the MEAN conditional probability of its bigrams. Per-doc sums fold in
# sorted (w1, w2) order so floating summation is identical across
# engines; the model join is a broadcast-sized vocabulary-pair table at
# this corpus and an equi-join at any scale.
# --------------------------------------------------------------------------
@query(
    "t89_bigram_lm_score",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM tk, LATERAL UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
      WHERE len(toks) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c FROM bg GROUP BY w1),
    scored AS (
      SELECT bg.doc_id, bg.w1, bg.w2,
             CAST(c2.c AS DOUBLE) / c1.c AS p
      FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
              JOIN c1 ON bg.w1 = c1.w1
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           list_reduce(list_prepend(0.0, list(p ORDER BY w1, w2, p)), (a, b) -> a + b)
             / COUNT(*) AS avg_prob
    FROM scored GROUP BY doc_id
    """,
)
def t89_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return _bigram_lm_per_doc(docs)


def _bigram_lm_per_doc(docs: DataFrame, keys: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """t89's per-document mean bigram conditional probability, with the
    grouping keys parameterized so callers can carry doc-constant columns
    (t99 carries lang). The sorted (w1, w2, p) fold keeps the double sum
    order-free — identical in Spark and DuckDB."""
    tk = docs.filter(token_count("text") >= 2).select(
        *keys, tokens("text").alias("toks")
    )
    bg = tk.select(
        *keys,
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    ).select(*keys, "b.w1", "b.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        bg.join(c2, on=["w1", "w2"])
        .join(c1, on="w1")
        .select(*keys, "w1", "w2", (F.col("c2").cast("double") / F.col("c1")).alias("p"))
    )
    return scored.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("w1", "w2", "p"))),
                F.lit(0.0),
                lambda acc, x: acc + x["p"],
            )
            / F.count(F.lit(1))
        ).alias("avg_prob"),
    )


# --------------------------------------------------------------------------
# Arrow-optimized scalar Python UDF (useArrow=True — Spark 4's batched
# serialization for plain @udf, a distinct execution path from both
# pickled row-at-a-time UDFs and pandas_udf): vowel ratio per document.
# The function is SQL-mirrorable so the Arrow path itself sits under the
# gate. Documented as the MIDDLE rung: builtins (t61) > pandas_udf/
# mapInPandas (s53) > arrow udf > pickled udf — use it when per-row
# Python is unavoidable but the logic doesn't vectorize.
# --------------------------------------------------------------------------
@query(
    "t90_arrow_udf_vowel_ratio",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[aeiou]')) AS BIGINT) AS n_vowels,
           CAST(len(regexp_extract_all(lower(text), '[aeiou]')) AS DOUBLE)
             / greatest(length(text), 1) AS vowel_ratio
    FROM documents
    """,
)
def t90_arrow_udf_vowel_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udf

    @udf("bigint", useArrow=True)
    def n_vowels(text: str) -> int:
        # None-safe: the oracle emits the row with NULL n_vowels for a
        # NULL text; an unguarded .lower() would crash the whole task
        if text is None:
            return None
        return sum(1 for ch in text.lower() if ch in "aeiou")

    docs = load_tables(spark, sf_dir)["documents"]
    nv = n_vowels("text")
    return docs.select(
        "doc_id",
        nv.alias("n_vowels"),
        (nv.cast("double") / F.greatest(F.length("text"), F.lit(1))).alias("vowel_ratio"),
    )


# --------------------------------------------------------------------------
# TABLE-argument Python UDTF (the polymorphic-table-function surface —
# t68 covers the scalar-arg LATERAL form): the UDTF consumes WHOLE ROWS
# of TABLE(...) PARTITION BY lang, accumulating per-partition state and
# emitting one summary row from terminate(). This is the custom-
# aggregation escape hatch when neither built-ins nor pandas UDAFs fit
# (multi-pass logic, early exits); still row-at-a-time Python — the
# gate proves semantics, the ladder in t90's docstring ranks the cost.
# --------------------------------------------------------------------------
@query(
    "t91_table_arg_udtf",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def t91_table_arg_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="lang string, n_docs bigint, total_chars bigint, max_chars bigint",
        useArrow=True,  # ArrowEvalPythonUDTF — batch transfer, not row pickling
    )
    class LangStats:
        def __init__(self):
            self._lang = None
            self._n = 0
            self._chars = 0
            self._mx = None

        def eval(self, row):
            self._lang = row["lang"]
            self._n += 1
            # NULL n_chars: count the row, skip the sums — exactly what
            # the oracle's NULL-skipping SUM/MAX do (int(None) would
            # otherwise kill the Python worker)
            v = row["n_chars"]
            if v is not None:
                self._chars += int(v)
                self._mx = int(v) if self._mx is None else max(self._mx, int(v))

        def terminate(self):
            if self._n:
                yield self._lang, self._n, self._chars, self._mx

    spark.udtf.register("lang_stats_t91", LangStats)
    load_tables(spark, sf_dir)["documents"].createOrReplaceTempView("__docs_t91")
    return spark.sql(
        "SELECT * FROM lang_stats_t91(TABLE(__docs_t91) PARTITION BY lang)"
    )


# --------------------------------------------------------------------------
# Engine-neutral Count-Min sketch — completes the verifiable-sketch
# family (q76 HLL, d45 MinHash, d46 SimHash, q78 Bloom): 3 rows × 64
# counters over md5-derived positions, point estimate = min over rows.
# The CMS guarantee (estimate NEVER undercounts) is emitted as a column
# the oracle pins to its own computation — estimate, exact count, and
# overestimate are all integers, so the whole sketch sits under the
# hash gate. Heavy-hitter estimation is what this buys at 100 TB: the
# 192-counter sketch is a broadcast constant; exact top-k needs a full
# groupBy of the corpus.
# --------------------------------------------------------------------------
_T92_W = 64  # counters per row
_T92_POS = [
    # (md5 substring start, length 7) per sketch row — same derivation as
    # q78's bloom positions, different disjoint hex windows
    (1, 7),
    (8, 7),
    (15, 7),
]


def _t92_pos_sql(expr: str, start: int) -> str:
    return (
        f"list_reduce([CAST(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1 AS BIGINT)"
        f" for i in generate_series({start}, {start + 6})], (a, x) -> a * 16 + x) % {_T92_W}"
    )


@query(
    "t92_countmin_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_SQL_TOKS}) AS t FROM documents
    ),
    exact AS (
      SELECT t, COUNT(*) AS c FROM tok GROUP BY t
      ORDER BY c DESC, t LIMIT 10
    ),
    pos AS (
      SELECT t, r, CASE r
               WHEN 0 THEN {_t92_pos_sql('t', 1)}
               WHEN 1 THEN {_t92_pos_sql('t', 8)}
               ELSE {_t92_pos_sql('t', 15)} END AS col
      FROM tok, (SELECT unnest([0, 1, 2]) AS r)
    ),
    counters AS (
      SELECT r, col, COUNT(*) AS cnt FROM pos GROUP BY r, col
    ),
    probe AS (
      SELECT exact.t, exact.c, counters.cnt
      FROM exact
      JOIN pos ON pos.t = exact.t
      JOIN counters ON counters.r = pos.r AND counters.col = pos.col
      GROUP BY exact.t, exact.c, counters.cnt, pos.r
    )
    SELECT t AS term, MIN(c) AS exact_count,
           CAST(MIN(cnt) AS BIGINT) AS cms_estimate,
           MIN(cnt) >= MIN(c) AS never_undercounts,
           CAST(MIN(cnt) - MIN(c) AS BIGINT) AS overestimate
    FROM probe GROUP BY t
    """,
)
def t92_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.filter(token_count("text") >= 1).select(
        F.explode(tokens("text")).alias("t")
    )

    def col_for(row: int):
        start, length = _T92_POS[row]
        return (
            F.conv(F.substring(F.md5("t"), start, length), 16, 10).cast("long")
            % _T92_W
        )

    pos = tok.select(
        "t",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), col_for(r).alias("col"))
                    for r in range(3)
                ]
            )
        ).alias("rc"),
    ).select("t", "rc.r", "rc.col")
    counters = pos.groupBy("r", "col").agg(F.count(F.lit(1)).alias("cnt"))
    exact = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(10)
    )
    probe_pos = exact.select(
        "t",
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), col_for(r).alias("col"))
                    for r in range(3)
                ]
            )
        ).alias("rc"),
    ).select("t", "c", "rc.r", "rc.col")
    est = (
        probe_pos.join(F.broadcast(counters), on=["r", "col"])
        .groupBy("t")
        .agg(
            F.min("c").alias("exact_count"),
            F.min("cnt").cast("bigint").alias("cms_estimate"),
        )
    )
    return est.select(
        F.col("t").alias("term"),
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_count")).alias("never_undercounts"),
        (F.col("cms_estimate") - F.col("exact_count")).cast("bigint").alias("overestimate"),
    )


# --------------------------------------------------------------------------
# Deterministic token-dropout augmentation: drop ~10% of tokens chosen
# by md5(doc_id:position) — reproducible noise (the augmentation seed IS
# the data), so reruns and distributed re-executions emit identical
# augmented text. Pure Column expressions: positions via zip_with over a
# sequence, filter + re-join. The stats prove the drop rate without
# shipping every augmented string through the hash compare twice.
# --------------------------------------------------------------------------
@query(
    "t93_token_dropout_augmentation",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    marked AS (
      SELECT doc_id,
             [t for t in list_transform(list_zip(toks, generate_series(1, len(toks))),
                p -> CASE WHEN list_reduce(
                       [CAST(strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(p[2] AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                        for i in generate_series(1, 8)], (a, x) -> a * 16 + x) % 10 = 0
                     THEN NULL ELSE p[1] END)
              if t IS NOT NULL] AS kept
      FROM tk WHERE len(toks) >= 1
    )
    SELECT doc_id,
           CAST(len(kept) AS BIGINT) AS n_kept,
           md5(array_to_string(kept, ' ')) AS aug_hash
    FROM marked
    """,
)
def t93_token_dropout_augmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    tk = docs.filter(token_count("text") >= 1).select(
        "doc_id", tokens("text").alias("toks")
    )
    # md5(doc_id:pos) % 10 == 0 → drop. zip tokens with 1-based positions.
    def keep_flag(pos_col):
        h = F.md5(
            F.concat_ws(":", F.col("doc_id").cast("string"), pos_col.cast("string"))
        )
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 10 != 0

    zipped = F.zip_with(
        F.col("toks"),
        F.sequence(F.lit(1), F.size("toks")),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    return tk.select(
        "doc_id",
        F.size(F.filter(zipped, lambda p: keep_flag(p["i"]))).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(F.filter(zipped, lambda p: keep_flag(p["i"])), lambda p: p["t"]),
                " ",
            )
        ).alias("aug_hash"),
    )


# --------------------------------------------------------------------------
# Length-bucketed batching: docs grouped into power-of-two token-length
# buckets (the padding-efficiency layout — batches pad to the bucket
# size, not the corpus max). Bucket via binary-string length (no
# transcendental log, same trick as the HLL rho); padding waste per
# bucket = Σ(bucket_size − n_tokens), the number a batching layer
# minimizes. All-integer.
# --------------------------------------------------------------------------
@query(
    "t94_length_bucketed_batching",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, len({_SQL_TOKS}) AS n_tokens FROM documents
    ),
    b AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens <= 1 THEN 1
                  ELSE CAST(1 AS BIGINT) << CAST(len(bin(n_tokens - 1)) AS INT)
             END AS bucket
      FROM tk WHERE n_tokens >= 1
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket - n_tokens) AS BIGINT) AS padding_waste
    FROM b GROUP BY bucket
    """,
)
def t94_length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    n = token_count("text")
    tk = docs.select("doc_id", n.alias("n_tokens")).filter(F.col("n_tokens") >= 1)
    bucket = F.when(F.col("n_tokens") <= 1, F.lit(1).cast("long")).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(n_tokens - 1)) AS INT))")
    )
    return (
        tk.select("doc_id", "n_tokens", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.col("bucket") - F.col("n_tokens")).cast("bigint").alias("padding_waste"),
        )
    )


# --------------------------------------------------------------------------
# Frame-level audio energy over REAL WAV decode (the silence / VAD
# primitive): 64 PCM samples → four 16-sample frames → RMS each.
# Amplitudes are k/128 exact dyadics, frame sums of 16 such squares are
# exact in doubles in any order, and sqrt is IEEE correctly rounded —
# so the energies are bit-identical and the oracle recomputes them from
# m74's sample formula while Spark parses the genuine RIFF container.
# --------------------------------------------------------------------------
@query(
    "m77_wav_frame_energy",
    oracle="""
    SELECT doc_id,
           CAST(f AS INT) AS frame_idx,
           CAST(16 AS INT) AS n_samples,
           sqrt(list_reduce(
             [ (abs((((doc_id * 31 + (f * 16 + i) * 7) % 256 + 256) % 256) - 128) / 128.0)
               * (abs((((doc_id * 31 + (f * 16 + i) * 7) % 256 + 256) % 256) - 128) / 128.0)
               for i in generate_series(0, 15)],
             (a, b) -> a + b) / 16) AS rms
    FROM documents, (SELECT unnest([0, 1, 2, 3]) AS f)
    """,
)
def m77_wav_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.multimodal import attach_wav_audio, wav_frame_energy

    docs = load_tables(spark, sf_dir)["documents"]
    return wav_frame_energy(attach_wav_audio(docs), frame_size=16)


# --------------------------------------------------------------------------
# Aggressive-normalization dedup tier (the CCNet-paragraph policy): on
# top of d40's light canon (lowercase + whitespace), strip punctuation
# and mask digit runs before hashing — catching near-identical boiler-
# plate that differs only in numbers or punctuation. Policies compose:
# the same groupBy-min machinery, one more normalization rung.
# --------------------------------------------------------------------------
@query(
    "d56_aggressive_norm_dedup",
    oracle="""
    SELECT md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
                 '[0-9]+', '#', 'g'),
                 '[^a-z# \\t\\n\\x0B\\f\\r]', '', 'g'),
                 '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS content_hash,
           COUNT(*) AS dup_count,
           MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def d56_aggressive_norm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), r"[0-9]+", "#"),
                r"[^a-z# \t\n\x0B\f\r]",
                "",
            ),
            r"[ \t\n\x0B\f\r]+",
            " ",
        )
    )
    return (
        docs.select("doc_id", F.md5(canon).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keep_id"),
        )
    )


# --------------------------------------------------------------------------
# Distribution-drift monitor — the pipeline-observability gate a 100 TB
# ingest runs before accepting a new data period: total-variation
# distance between the value histograms of two time slices, per event
# type. TVD instead of PSI/KL because it is log-free: with both engines
# computing n_i/N by one IEEE division and summing |p-q| in bucket order
# (an ordered fold, not a nondeterministic SUM), the statistic is
# bit-identical and sits under the hash gate. Scale shape: one scan with
# conditional partial aggs to (type, bucket), a broadcast join to the
# type totals (bounded by |event_type|), and a 10-element fold — nothing
# corpus-sized leaves the first aggregation.
# --------------------------------------------------------------------------
@query(
    "t95_distribution_drift",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(least(floor(value / 50), 9) AS BIGINT) AS bucket,
             CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    b AS (
      SELECT event_type, bucket,
             CAST(SUM(ia) AS BIGINT) AS na,
             CAST(SUM(1 - ia) AS BIGINT) AS nb
      FROM s GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, CAST(SUM(na) AS BIGINT) AS ta,
             CAST(SUM(nb) AS BIGINT) AS tb
      FROM b GROUP BY 1
    ),
    d AS (
      SELECT b.event_type, b.bucket,
             abs(CAST(b.na AS DOUBLE) / t.ta - CAST(b.nb AS DOUBLE) / t.tb) AS ad
      FROM b JOIN t USING (event_type)
    )
    SELECT d.event_type, MIN(t.ta) AS n_first, MIN(t.tb) AS n_second,
           0.5 * list_reduce(list(d.ad ORDER BY d.bucket), (a, x) -> a + x) AS tvd
    FROM d JOIN t USING (event_type)
    GROUP BY d.event_type
    """,
)
def t95_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    s = e.select(
        "event_type",
        F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("bigint").alias("bucket"),
        F.when(F.dayofmonth("ts") <= 15, F.lit(1)).otherwise(F.lit(0)).alias("ia"),
    )
    b = s.groupBy("event_type", "bucket").agg(
        F.sum("ia").alias("na"), F.sum(1 - F.col("ia")).alias("nb")
    )
    t = b.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    d = b.join(F.broadcast(t), on="event_type").select(
        "event_type",
        "bucket",
        # try_divide: an event_type seen only in one half of the month has
        # ta or tb = 0 — the oracle's DuckDB division yields NULL and
        # still emits the row, while a plain Spark / would throw
        # DIVIDE_BY_ZERO under Spark 4's default ANSI mode
        F.abs(
            F.try_divide(F.col("na").cast("double"), F.col("ta"))
            - F.try_divide(F.col("nb").cast("double"), F.col("tb"))
        ).alias("ad"),
        "ta",
        "tb",
    )
    return d.groupBy("event_type").agg(
        F.min("ta").alias("n_first"),
        F.min("tb").alias("n_second"),
        (
            F.lit(0.5)
            * F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("bucket", "ad"))),
                    lambda x: x["ad"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("tvd"),
    )


# --------------------------------------------------------------------------
# JL random-projection candidate search + exact re-rank — the two-stage
# retrieval shape production ANN systems use (coarse scorer proposes,
# exact scorer disposes), with Johnson-Lindenstrauss ±1 signs as the
# coarse tier: rank all neighbors in a 32-dim projection (half-width
# folds), keep the top-C=128 per query, re-rank ONLY those with the
# exact 64-dim cosine, return the top-3. The md5-derived sign matrix is
# engine-neutral, so unlike the numpy-seeded s51 the whole two-stage
# pipeline sits under the full hash gate. On this deliberately isotropic
# corpus (neighbor margins ~0.01, no cluster structure — the hardest
# case for any projection) recall@3 vs s50 is 20/24 at C=128, pinned in
# tests/test_similarity_pq.py; C is an absolute budget, so the candidate
# fraction C/n vanishes as the corpus grows, and clustered real corpora
# reach the same recall at far smaller C.
# --------------------------------------------------------------------------
_SQL_JL_PROJ = """
      SELECT vec_id,
             list_transform(generate_series(0, 31), i ->
               list_reduce(
                 list_transform(list_zip(embedding, generate_series(0, 63)),
                   p -> CAST(p[1] AS DOUBLE) *
                        (CASE WHEN strpos('01234567',
                                substr(md5('jl' || i || '_' || p[2]), 1, 1)) > 0
                              THEN 1.0 ELSE -1.0 END)),
                 (acc, v) -> acc + v)) AS p
      FROM embeddings
"""

_SQL_EXACT_COS = """
    list_reduce(list_transform(list_zip(qe.embedding, ce.embedding),
                               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                (a, x) -> a + x)
    / (sqrt(list_reduce(list_transform(qe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
       * sqrt(list_reduce(list_transform(ce.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)))
"""


@query(
    "s61_jl_projection_topk",
    oracle=f"""
    WITH proj AS ({_SQL_JL_PROJ}),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce(list_transform(list_zip(q.p, c.p), z -> z[1] * z[2]),
                           (a, x) -> a + x)
               / (sqrt(list_reduce(list_transform(q.p, x -> x * x), (a, b) -> a + b))
                  * sqrt(list_reduce(list_transform(c.p, x -> x * x), (a, b) -> a + b)))
               DESC, c.vec_id) AS prank
      FROM proj q JOIN proj c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
    ),
    rer AS (
      SELECT cand.query_id, cand.neighbor_id, {_SQL_EXACT_COS} AS cosine_sim
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
      WHERE cand.prank <= 128
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM rer
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def s61_jl_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.functions.vectors import cosine
    from pymongraph_spark.operators.similarity import brute_force_topk, jl_project

    emb = load_tables(spark, sf_dir)["embeddings"]
    proj = jl_project(emb, in_dim=64, out_dim=32)
    cand = brute_force_topk(
        proj, proj.filter(F.col("vec_id") < 8), k=128, vec_col="proj"
    ).select("query_id", "neighbor_id")
    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    ce = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"))
    rer = (
        cand.join(F.broadcast(qe), on="query_id")
        .join(ce, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# --------------------------------------------------------------------------
# Cross-document repeated spans — the exact-substring dedup shape of
# "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
# 2022), re-expressed relationally: instead of a suffix array, overlapping
# token 5-grams are exploded with their positions, grams occurring in >1
# document mark their positions as covered, and per-document maximal
# repeated spans are recovered with the classic interval-merge
# (gaps-and-islands) window. Scale shape: the explode is map-only; the
# cross-doc test is a partial-aggregating groupBy on uniform md5 keys
# (never corpus x corpus); the span merge windows are per-document
# (bounded by doc length, perfectly partitionable). All-integer output.
# --------------------------------------------------------------------------
_T96_N = 5


@query(
    "t96_cross_doc_repeated_spans",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(toks) - {_T96_N - 1})) AS p, toks
      FROM tk WHERE len(toks) >= {_T96_N}
    ),
    h AS (
      SELECT doc_id, p, p + {_T96_N - 1} AS e,
             md5(array_to_string(toks[p:p+{_T96_N - 1}], ' ')) AS hh
      FROM g
    ),
    rep AS (SELECT hh FROM h GROUP BY hh HAVING COUNT(DISTINCT doc_id) > 1),
    cov AS (SELECT doc_id, p, e FROM h JOIN rep USING (hh)),
    isl AS (
      SELECT doc_id, p, e,
             CASE WHEN p > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -999) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM cov
    ),
    isl2 AS (
      SELECT doc_id, p, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT doc_id, CAST(island AS INT) AS span_idx,
           CAST(MIN(p) AS BIGINT) AS start_tok,
           CAST(MAX(e) AS BIGINT) AS end_tok,
           CAST(MAX(e) - MIN(p) + 1 AS BIGINT) AS span_len
    FROM isl2 GROUP BY doc_id, island
    """,
)
def t96_cross_doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document maximal spans of tokens covered by some 5-gram that
    also occurs in ANOTHER document — the removal targets of
    exact-substring dedup. Positions are 1-based token indices;
    overlapping/adjacent covered intervals merge into one span."""
    docs = load_tables(spark, sf_dir)["documents"]
    n = _T96_N
    staged = docs.filter(token_count("text") >= n).select(
        "doc_id", tokens("text").alias("toks")
    )
    g = staged.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (n - 1))).alias("p"),
        "toks",
    ).select(
        "doc_id",
        F.col("p").cast("bigint").alias("p"),
        (F.col("p") + (n - 1)).cast("bigint").alias("e"),
        F.md5(F.concat_ws(" ", F.slice("toks", F.col("p"), n))).alias("hh"),
    )
    rep = (
        g.groupBy("hh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("hh")
    )
    cov = g.join(rep, on="hh", how="left_semi").select("doc_id", "p", "e")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = cov.withColumn(
        "ni",
        (F.col("p") > F.coalesce(F.max("e").over(w_prev), F.lit(-999)) + 1).cast(
            "int"
        ),
    ).withColumn("island", F.sum("ni").over(w_run))
    return isl.groupBy("doc_id", "island").agg(
        F.min("p").alias("start_tok"),
        F.max("e").alias("end_tok"),
        (F.max("e") - F.min("p") + 1).alias("span_len"),
    ).select(
        "doc_id",
        F.col("island").cast("int").alias("span_idx"),
        "start_tok",
        "end_tok",
        "span_len",
    )


# --------------------------------------------------------------------------
# DSIR-style importance selection ("Data Selection for Language Models
# via Importance Resampling", Xie et al., 2023): score every raw-pool
# document by how much more likely its hashed-token features are under a
# TARGET distribution (here: the src0-src3 sources) than under the raw
# pool, then keep the top-k. The published method sums log probability
# ratios; to stay bit-exact across engines the per-feature log-ratio
# weight is replaced by an integer quantized ratio
#   w_f = ((tgt_f+1) * (raw_total+B) * 1000) // ((raw_f+1) * (tgt_total+B))
# (add-1 smoothing over B=256 hashed buckets, cross-multiplied so the
# whole statistic is bigint arithmetic — same exactness discipline as the
# md5-HLL twin q76). A float log-sum variant is a drop-in swap at scale.
# Scale shape: one explode + two partial-agg passes build the broadcast
# 256-row weight table; scoring is a map-side broadcast join + per-doc
# agg; the final top-k is TakeOrderedAndProject (a heap, never a global
# sort).
# --------------------------------------------------------------------------
_T97_TARGET = ("src0", "src1", "src2", "src3")
_T97_K = 20

# DuckDB fold reproducing Spark's conv(substr(md5(tok),1,8),16,10)%256
_SQL_TOK_BUCKET = """
    list_reduce([CAST(strpos('0123456789abcdef',
                      substr(md5(tok), i, 1)) - 1 AS BIGINT)
                 for i in generate_series(1, 8)],
                (acc, x) -> acc * 16 + x) % 256
"""


@query(
    "t97_dsir_importance_selection",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, source, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    f AS (
      SELECT doc_id, source IN {_T97_TARGET} AS is_tgt,
             {_SQL_TOK_BUCKET} AS fb
      FROM tk
    ),
    cnt AS (
      SELECT fb,
             SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_c,
             SUM(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS raw_c
      FROM f GROUP BY fb
    ),
    tot AS (
      SELECT SUM(tgt_c) AS tgt_total, SUM(raw_c) AS raw_total FROM cnt
    ),
    w AS (
      SELECT fb,
             ((tgt_c + 1) * (raw_total + 256) * 1000)
               // ((raw_c + 1) * (tgt_total + 256)) AS wf
      FROM cnt, tot
    ),
    scored AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.wf) AS BIGINT) AS score
      FROM f JOIN w USING (fb)
      WHERE NOT f.is_tgt
      GROUP BY f.doc_id
    ),
    ranked AS (
      SELECT doc_id, n_tokens, score,
             CAST(score // n_tokens AS BIGINT) AS avg_milli,
             ROW_NUMBER() OVER (ORDER BY score // n_tokens DESC, doc_id) AS rank
      FROM scored
    )
    SELECT doc_id, n_tokens, score, avg_milli, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {_T97_K}
    """,
)
def t97_dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k raw-pool documents by hashed-ngram importance under the
    target sources, integer-exact quantized-ratio DSIR."""
    docs = load_tables(spark, sf_dir)["documents"]
    f = (
        docs.select(
            "doc_id",
            F.col("source").isin(*_T97_TARGET).alias("is_tgt"),
            F.explode(tokens("text")).alias("tok"),
        )
        .select(
            "doc_id",
            "is_tgt",
            (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint") % 256)
            .alias("fb"),
        )
    )
    cnt = f.groupBy("fb").agg(
        F.sum(F.col("is_tgt").cast("bigint")).alias("tgt_c"),
        F.sum((~F.col("is_tgt")).cast("bigint")).alias("raw_c"),
    )
    tot = cnt.agg(
        F.sum("tgt_c").alias("tgt_total"), F.sum("raw_c").alias("raw_total")
    )
    w = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "fb",
            (F.col("tgt_c") + 1).alias("num_a"),
            (F.col("raw_total") + 256).alias("num_b"),
            (F.col("raw_c") + 1).alias("den_a"),
            (F.col("tgt_total") + 256).alias("den_b"),
        )
        .select(
            "fb",
            # integer-exact end to end, and overflow-proof: the multiply
            # intermediates run in DECIMAL(38,0) (num_a*num_b*1000 can top
            # int64 once raw_total reaches ~1e10 tokens with per-bucket
            # tgt_c ~1e6 — at that corpus size non-ANSI bigint multiply
            # would wrap SILENTLY while the DuckDB oracle's HUGEINT sums
            # stay exact, a silent divergence at exactly the 100 TB tier
            # this query targets). div()'s bigint RESULT is safe: wf is
            # bounded by ~1000*raw_total ≈ 1e13 ≪ 2^63.
            F.expr(
                "CAST(div(CAST(num_a AS DECIMAL(38,0)) * num_b * 1000,"
                "          CAST(den_a AS DECIMAL(38,0)) * den_b) AS BIGINT)"
            ).alias("wf"),
        )
    )
    # pre-aggregate to (doc, bucket) counts BEFORE the weight join: the
    # scoring join then carries ≤256 rows per doc instead of one row per
    # token — same sums (Σ_tokens wf == Σ_buckets cnt·wf, all bigint)
    scored = (
        f.filter(~F.col("is_tgt"))
        .groupBy("doc_id", "fb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .join(F.broadcast(w), on="fb")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            # score bound: wf ≤ ~1000·(tgt share / raw share) — in any
            # non-pathological corpus a few thousand — so per-doc score
            # ≈ n_tokens·E[wf] stays far below 2^63 even at 1e9 tokens
            # per doc; only the weight MULTIPLY above needed widening
            F.sum(F.col("cnt") * F.col("wf")).cast("bigint").alias("score"),
        )
        .withColumn("avg_milli", F.expr("div(score, n_tokens)").cast("bigint"))
    )
    top = scored.orderBy(F.desc("avg_milli"), F.asc("doc_id")).limit(_T97_K)
    w_rank = Window.orderBy(F.desc("avg_milli"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w_rank).cast("int"))


# --------------------------------------------------------------------------
# Voiced-segment extraction over real WAV decode — the VAD / silence-
# trimming shape of a speech-data curation pipeline: frames whose
# quantized energy clears a threshold are "voiced", and consecutive
# voiced frames merge into maximal segments (the same interval-merge
# window idiom as t96, here per clip). Thresholding is on the INTEGER
# Σk² energy (wav_frame_energy's with_quantized_energy column), so the
# voiced/silence split is exact in both engines — no float boundary can
# flip a frame. Scale shape: decode is map-only mapInPandas over Arrow
# batches; the merge windows are per-doc (4 frames here, bounded by clip
# length in general); payloads never shuffle.
# --------------------------------------------------------------------------
_M78_ENERGY_T = 90_000


@query(
    "m78_voiced_segments",
    oracle=f"""
    WITH fr AS (
      SELECT doc_id, f AS frame_idx,
             list_reduce(
               [ abs((((doc_id * 31 + (f * 16 + i) * 7) % 256 + 256) % 256) - 128)
                 * abs((((doc_id * 31 + (f * 16 + i) * 7) % 256 + 256) % 256) - 128)
                 for i in generate_series(0, 15)],
               (a, b) -> a + b) AS energy_q
      FROM documents, (SELECT unnest([0, 1, 2, 3]) AS f)
    ),
    v AS (SELECT doc_id, frame_idx, energy_q FROM fr WHERE energy_q >= {_M78_ENERGY_T}),
    isl AS (
      SELECT doc_id, frame_idx, energy_q,
             CASE WHEN frame_idx > COALESCE(MAX(frame_idx) OVER (
                    PARTITION BY doc_id ORDER BY frame_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -999) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM v
    ),
    isl2 AS (
      SELECT doc_id, frame_idx, energy_q,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY frame_idx
                           ROWS UNBOUNDED PRECEDING) AS seg
      FROM isl
    )
    SELECT doc_id, CAST(seg AS INT) AS seg_idx,
           CAST(MIN(frame_idx) AS INT) AS start_frame,
           CAST(MAX(frame_idx) AS INT) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy_q) AS BIGINT) AS energy_q_sum
    FROM isl2 GROUP BY doc_id, seg
    """,
)
def m78_voiced_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal runs of voiced (energy ≥ T) 16-sample frames per clip,
    from the genuine RIFF/WAV parse — fake=False end to end."""
    from pymongraph_spark.operators.multimodal import attach_wav_audio, wav_frame_energy

    docs = load_tables(spark, sf_dir)["documents"]
    frames = wav_frame_energy(
        attach_wav_audio(docs), frame_size=16, with_quantized_energy=True
    )
    v = frames.filter(F.col("energy_q") >= _M78_ENERGY_T).select(
        "doc_id", "frame_idx", "energy_q"
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("frame_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("frame_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = v.withColumn(
        "ni",
        (
            F.col("frame_idx")
            > F.coalesce(F.max("frame_idx").over(w_prev), F.lit(-999)) + 1
        ).cast("int"),
    ).withColumn("seg", F.sum("ni").over(w_run))
    return isl.groupBy("doc_id", "seg").agg(
        F.min("frame_idx").cast("int").alias("start_frame"),
        F.max("frame_idx").cast("int").alias("end_frame"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("energy_q").cast("bigint").alias("energy_q_sum"),
    ).select(
        "doc_id",
        F.col("seg").cast("int").alias("seg_idx"),
        "start_frame",
        "end_frame",
        "n_frames",
        "energy_q_sum",
    )


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al., 2023) — cluster-scoped semantic dedup: k-means
# partitions the embedding space, and near-duplicate pruning runs WITHIN
# clusters only, so pairwise work never crosses cluster boundaries and k
# scales with the corpus. Distinct from d44/d47 (global LSH candidate
# generation): here the candidate generator IS the learned clustering.
# Exact tier: integer-grid Lloyd's (the s57/s59 recipe) + integer-L2²
# threshold — every removal decision is bigint arithmetic in both
# engines. Threshold 1.3e12 ≈ cosine 0.35 on the unit-norm corpus.
# Scale shape: the within-cell self-join is an equi-join on cell;
# verification touches same-cell pairs only.
# --------------------------------------------------------------------------
_D58_T = 1_300_000_000_000


@query(
    "d58_semdedup",
    oracle=_grid_oracle(16, 2, _WHOLE_VEC, "semdedup", threshold=_D58_T),
)
def d58_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import semdedup

    emb = load_tables(spark, sf_dir)["embeddings"]
    return semdedup(emb, k_clusters=16, iters=2, threshold_l2sq=_D58_T)


def _hier_leaf_parts(k: int, iters: int, scale: int = _GRID_SCALE) -> str:
    """Unrolled-CTE DuckDB replay of the two-level leaf ASSIGNMENT of
    semdedup_hierarchical / hierarchical_codebook (operators/dedup.py):
    the coarse phase is the shared exact-grid prefix (k1 = ceil(√k)
    whole-vector cells), the fine phase reruns the same Lloyd arithmetic
    WITHIN each coarse cell — seeds are the k2 smallest vec_ids per cell
    (row_number over the cell), assignment considers only
    same-coarse-cell centroids (the fc join carries the coarse key),
    empty fine clusters drop out of the mean aggregation exactly as in
    the numpy refine, and ties break (d, fine) like numpy's first-min
    argmin over ascending-fine centroid rows. Ends at the ``leaf`` CTE
    (vec_id, cell = coarse·2^20 + fine); shared by the d62 dedup oracle
    and the st92 streaming pair oracle."""
    import math

    k1 = max(2, math.isqrt(max(k - 1, 0)) + 1)
    k2 = max(1, -(-k // k1))
    parts = [_grid_cells_cte(k1, iters, _WHOLE_VEC, scale)]
    parts.append(f"""
    , fs AS (
      SELECT vec_id, cell AS coarse,
             row_number() OVER (PARTITION BY cell ORDER BY vec_id) - 1 AS fine
      FROM bf
      QUALIFY fine < {k2}
    ), fc0 AS (
      SELECT fs.coarse, fs.fine, q.dim, q.qv AS cv
      FROM fs JOIN q USING (vec_id)
    )""")
    for i in range(1, iters + 1):
        parts.append(f"""
    , fa{i} AS (
      SELECT q.vec_id, fc.fine,
             SUM((q.qv - fc.cv) * (q.qv - fc.cv)) AS d
      FROM q JOIN bf ON bf.vec_id = q.vec_id
             JOIN fc{i - 1} fc ON fc.coarse = bf.cell AND fc.dim = q.dim
      GROUP BY q.vec_id, fc.fine
    ), fb{i} AS (
      SELECT vec_id, fine FROM (
        SELECT vec_id, fine,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, fine) AS rn
        FROM fa{i}) WHERE rn = 1
    ), fc{i} AS (
      SELECT bf.cell AS coarse, fb.fine, q.dim, SUM(q.qv) // COUNT(*) AS cv
      FROM fb{i} fb JOIN q ON q.vec_id = fb.vec_id
                    JOIN bf ON bf.vec_id = fb.vec_id
      GROUP BY bf.cell, fb.fine, q.dim
    )""")
    parts.append(f"""
    , faf AS (
      SELECT q.vec_id, fc.fine,
             SUM((q.qv - fc.cv) * (q.qv - fc.cv)) AS d
      FROM q JOIN bf ON bf.vec_id = q.vec_id
             JOIN fc{iters} fc ON fc.coarse = bf.cell AND fc.dim = q.dim
      GROUP BY q.vec_id, fc.fine
    ), leaf AS (
      SELECT f.vec_id, bf.cell * {1 << 20} + f.fine AS cell
      FROM (
        SELECT vec_id, fine FROM (
          SELECT vec_id, fine,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, fine) AS rn
          FROM faf) WHERE rn = 1
      ) f JOIN bf ON bf.vec_id = f.vec_id
    )""")
    return "".join(parts)


def _hier_oracle(k: int, iters: int, threshold: int, scale: int = _GRID_SCALE) -> str:
    """d62: the _hier_leaf_parts leaf assignment + the standard
    within-cell L2² removal."""
    return _hier_leaf_parts(k, iters, scale) + f"""
    , pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM leaf a JOIN leaf b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ), pd AS (
      SELECT p.id_a, p.id_b
      FROM pr p
      JOIN q q1 ON q1.vec_id = p.id_a
      JOIN q q2 ON q2.vec_id = p.id_b AND q2.dim = q1.dim
      GROUP BY p.id_a, p.id_b
      HAVING SUM((q1.qv - q2.qv) * (q1.qv - q2.qv)) <= {threshold}
    ), rem AS (
      SELECT id_b AS vec_id, MIN(id_a) AS dup_of FROM pd GROUP BY id_b
    )
    SELECT l.vec_id, l.cell,
           CAST(r.dup_of IS NOT NULL AS INT) AS removed, r.dup_of
    FROM leaf l LEFT JOIN rem r USING (vec_id)"""


@query(
    "d62_semdedup_hierarchical",
    oracle=_hier_oracle(16, 2, _D58_T),
)
def d62_semdedup_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k∝n scale path of d58, driver-verified at the gate geometry
    (k=16 → 4 coarse × 4 fine): two-level clustering costs O(n·√k)
    assignment work instead of flat Lloyd's O(n·k), which the sf9 third
    decade measured super-linear at scaled k
    (SCALE_PROBE_third_decade.json). Same exact integer L2² removal rule
    as d58; only the cell boundaries differ."""
    from pymongraph_spark.operators.dedup import semdedup_hierarchical

    emb = load_tables(spark, sf_dir)["embeddings"]
    return semdedup_hierarchical(emb, k_clusters=16, iters=2, threshold_l2sq=_D58_T)


# --------------------------------------------------------------------------
# Cross-source n-gram overlap matrix — the corpus-level contamination /
# provenance diagnostic: for every ordered source pair, the number of
# distinct word 3-grams they share, with Jaccard and containment in
# integer per-mille (bigint cross-multiplied division, no float path).
# Containment is asymmetric (benchmark-in-pretraining leakage reads as
# high containment of the small source in the big one), so all ordered
# pairs are emitted. Scale shape: distinct (source, gram) is a partial
# agg; the self-join key is the gram, whose fan-out is bounded by the
# source count squared — never doc×doc; the totals join is a broadcast.
# --------------------------------------------------------------------------
@query(
    "t98_source_overlap_matrix",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents
    ),
    g AS (
      SELECT DISTINCT source, array_to_string(toks[p:p+2], ' ') AS gram
      FROM tk, LATERAL UNNEST(generate_series(1, len(toks) - 2)) AS u(p)
      WHERE len(toks) >= 3
    ),
    n AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS inter_grams
      FROM g a JOIN g b ON a.gram = b.gram AND a.source <> b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, i.inter_grams,
           na.n_grams AS n_a, nb.n_grams AS n_b,
           i.inter_grams * 1000 // (na.n_grams + nb.n_grams - i.inter_grams)
             AS jaccard_milli,
           i.inter_grams * 1000 // na.n_grams AS containment_milli
    FROM inter i
    JOIN n na ON na.source = i.src_a
    JOIN n nb ON nb.source = i.src_b
    """,
)
def t98_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    tk = docs.filter(token_count("text") >= 3).select(
        "source", tokens("text").alias("toks")
    )
    g = (
        tk.select(
            "source",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 2)).alias("p"),
            "toks",
        )
        .select(
            "source", F.concat_ws(" ", F.slice("toks", F.col("p"), 3)).alias("gram")
        )
        .distinct()
    )
    n = g.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    inter = (
        g.alias("a")
        .join(g.alias("b"), on="gram")
        .filter(F.col("a.source") != F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter_grams"))
    )
    return (
        inter.join(
            F.broadcast(
                n.select(F.col("source").alias("src_a"), F.col("n_grams").alias("n_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                n.select(F.col("source").alias("src_b"), F.col("n_grams").alias("n_b"))
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "inter_grams",
            "n_a",
            "n_b",
            F.expr("div(inter_grams * 1000, n_a + n_b - inter_grams)").alias(
                "jaccard_milli"
            ),
            F.expr("div(inter_grams * 1000, n_a)").alias("containment_milli"),
        )
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al., 2020): score every
# document with the corpus bigram LM (t89's exact pipeline, lang carried
# through), then split each language into head/middle/tail terciles by
# predictability — the standard pretraining-data quality triage. ntile
# is deterministic here because avg_prob is the bit-identical sorted-fold
# double from t89 and ties break on doc_id. Scale shape: t89's partial
# aggs + one per-lang window (bounded partitions).
# --------------------------------------------------------------------------
# shared by t99 (exact ntile) and t101 (threshold/scale form): the t89
# bigram-LM per-doc scoring chain, bit-identical sorted-fold double sum
_SQL_PERPLEXITY_PER_DOC = f"""
    tk AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
      FROM tk, LATERAL UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
      WHERE len(toks) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c FROM bg GROUP BY w1),
    scored AS (
      SELECT bg.doc_id, bg.lang, bg.w1, bg.w2,
             CAST(c2.c AS DOUBLE) / c1.c AS p
      FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
              JOIN c1 ON bg.w1 = c1.w1
    ),
    per_doc AS (
      SELECT doc_id, lang,
             COUNT(*) AS n_bigrams,
             list_reduce(list_prepend(0.0, list(p ORDER BY w1, w2, p)), (a, b) -> a + b)
               / COUNT(*) AS avg_prob
      FROM scored GROUP BY doc_id, lang
    )"""


@query(
    "t99_perplexity_buckets",
    oracle=f"""
    WITH {_SQL_PERPLEXITY_PER_DOC},
    t AS (
      SELECT doc_id, lang, n_bigrams, avg_prob,
             CAST(ntile(3) OVER (PARTITION BY lang
                                 ORDER BY avg_prob DESC, doc_id) AS INT) AS tercile
      FROM per_doc
    )
    SELECT doc_id, lang, n_bigrams, avg_prob, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket
    FROM t
    """,
)
def t99_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    per_doc = _bigram_lm_per_doc(docs, keys=("doc_id", "lang"))
    w = Window.partitionBy("lang").orderBy(F.desc("avg_prob"), F.asc("doc_id"))
    tercile = F.ntile(3).over(w).cast("int")
    return per_doc.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "avg_prob",
        tercile.alias("tercile"),
        F.when(tercile == 1, "head")
        .when(tercile == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def perplexity_buckets_scalable(docs: DataFrame, accuracy: int = 10000) -> DataFrame:
    """The 100-TB path for t99's head/middle/tail split. t99's exact
    ntile is a window over ``partitionBy(lang)`` — correct and oracle-
    checkable, but one language = ONE sort task, so a corpus with 1e9
    docs in a dominant language turns the window into a single-executor
    sort (the one remaining single-task construct the sf3 probe's t99
    row points at). This variant replaces the sort with order
    statistics: per-lang tercile THRESHOLDS from percentile_approx (a
    mergeable sketch — fully distributed, one partial-agg shuffle of
    lang-keyed sketch buffers), broadcast back, then a map-only bucket
    assignment. The trade: bucket sizes are exact only up to sketch
    accuracy and boundary ties go to the higher bucket, so this is the
    SCALE variant, not the oracle semantics —
    test_perplexity_buckets_scalable_agrees pins ≥90% assignment
    agreement and exact head≥middle≥tail ordering per language against
    the exact query on gate data."""
    per_doc = _bigram_lm_per_doc(docs, keys=("doc_id", "lang"))
    thr = per_doc.groupBy("lang").agg(
        F.percentile_approx(
            "avg_prob", F.array(F.lit(2.0 / 3.0), F.lit(1.0 / 3.0)), accuracy
        ).alias("__t")
    )
    bucket = (
        F.when(F.col("avg_prob") >= F.col("__t")[0], "head")
        .when(F.col("avg_prob") >= F.col("__t")[1], "middle")
        .otherwise("tail")
    )
    return (
        per_doc.join(F.broadcast(thr), on="lang")
        .select("doc_id", "lang", "n_bigrams", "avg_prob", bucket.alias("bucket"))
    )


# --------------------------------------------------------------------------
# The 100-TB perplexity split under the hash-match gate (r8 verdict item
# 4): t99's exact ntile is one sort task per language — a dominant
# language at scale serializes the whole split. t101 drives the SAME
# per-doc scoring through perplexity_buckets_scalable's order-statistic
# path (mergeable percentile_approx sketch → broadcast thresholds →
# map-only bucketing; zero Window nodes). Oracle-checkable because
# percentile_approx is EXACT whenever a group has fewer rows than
# `accuracy` (gate scale: ~500 docs vs 10000), and Spark's exact-mode
# rank convention equals DuckDB quantile_disc (verified empirically per
# lang before registration). At larger scales the sketch approximates —
# that is the documented trade, and the agreement test pins it ≥90%
# against t99.
# --------------------------------------------------------------------------
@query(
    "t101_perplexity_buckets_scalable",
    oracle=f"""
    WITH {_SQL_PERPLEXITY_PER_DOC},
    thr AS (
      SELECT lang,
             quantile_disc(avg_prob, 2.0/3.0) AS t_head,
             quantile_disc(avg_prob, 1.0/3.0) AS t_mid
      FROM per_doc GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_bigrams, d.avg_prob,
           CASE WHEN d.avg_prob >= t.t_head THEN 'head'
                WHEN d.avg_prob >= t.t_mid THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM per_doc d JOIN thr t USING (lang)
    """,
)
def t101_perplexity_buckets_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return perplexity_buckets_scalable(docs, accuracy=10000)


def _sql_md5_fold(expr: str, nchars: int, mod: int) -> str:
    """DuckDB fold reproducing Spark's conv(substr(md5(expr),1,nchars),16,10)
    (% mod) — the same recipe as _SQL_TOK_BUCKET, parameterized."""
    return (
        f"list_reduce([CAST(strpos('0123456789abcdef', "
        f"substr(md5({expr}), i, 1)) - 1 AS BIGINT) "
        f"for i in generate_series(1, {nchars})], "
        f"(acc, x) -> acc * 16 + x) % {mod}"
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination (the Dolma toolkit's mechanism, Soldaini
# et al., 2024): the eval set's 3-gram shingles are folded into a 65536-
# bit Bloom filter (1024-ish bigint words, 63 usable bits each — DuckDB
# raises on 1<<63), which at 100 TB is a broadcast plan constant — the
# train-side probe is map-only, versus t86/d52's semi-join whose gram
# exchange scales with the corpus. No false negatives by construction;
# the query emits the exact semi-join verdict alongside so the gate
# hash-checks BOTH the filter bits and the false-positive accounting.
# Same 80/10/10 md5 split and shingle definition as t86.
# --------------------------------------------------------------------------
_D59_SEED_FOLD = _sql_md5_fold("CAST(s.seed AS VARCHAR) || ':' || gram", 12, 65536)


@query(
    "d59_bloom_decontamination",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {_SQL_SPLIT_BUCKET} AS bucket, {_SQL_TOKS} AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, bucket, unnest({_SQL_SHINGLES}) AS gram
      FROM (SELECT doc_id, bucket, toks FROM b WHERE len(toks) >= 3)
    ),
    ev AS (SELECT DISTINCT gram FROM sh WHERE bucket >= 90),
    pos_ev AS (
      SELECT {_D59_SEED_FOLD} AS pos
      FROM ev, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    words AS (
      SELECT pos // 63 AS w,
             bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
      FROM pos_ev GROUP BY pos // 63
    ),
    tr AS (SELECT DISTINCT doc_id, gram FROM sh WHERE bucket < 80),
    probe AS (
      SELECT tr.doc_id, tr.gram, {_D59_SEED_FOLD} AS pos
      FROM tr, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    gh AS (
      SELECT p.doc_id, p.gram,
             SUM(CASE WHEN (COALESCE(w.bits, 0)
                            & (1::BIGINT << CAST(p.pos % 63 AS INT))) <> 0
                      THEN 1 ELSE 0 END) AS nh
      FROM probe p LEFT JOIN words w ON w.w = p.pos // 63
      GROUP BY p.doc_id, p.gram
    ),
    bl AS (
      SELECT doc_id, MAX(CASE WHEN nh = 3 THEN 1 ELSE 0 END) AS bf
      FROM gh GROUP BY doc_id
    ),
    ex AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.gram = ev.gram)
    SELECT bl.doc_id,
           CAST(bl.bf AS INT) AS bloom_flagged,
           CAST(ex.doc_id IS NOT NULL AS INT) AS exact_flagged,
           CAST(bl.bf = 1 AND ex.doc_id IS NULL AS INT) AS false_positive
    FROM bl LEFT JOIN ex ON bl.doc_id = ex.doc_id
    """,
)
def d59_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import bloom_decontaminate, shingled_grams

    docs = load_tables(spark, sf_dir)["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    # bucket is a pure function of doc_id, so each side filters its DOCS
    # before shingling (optimization r14, guide §2.3): the post-explode
    # filter shape tokenized+shingled 100% of the corpus once per
    # consumer (ev feeds the words build AND the exact-flag semi-join,
    # tr feeds the probe AND the semi-join = 4.0 corpus-scans); with the
    # doc_id filter below the explode it is 2×0.1 + 2×0.8 (no
    # checkpoint: an extra eager job costs more at bench scale than the
    # two 10% eval scans it would save). No InferFiltersFromGenerate
    # hazard: the filter never references the gram array.
    ev = (
        shingled_grams(docs.filter(bucket >= 90), n=3)
        .select("gram")
        .distinct()
    )
    # One pass over the train grams for BOTH flags (optimization r15,
    # guide §2.3/§2.4): with_exact folds the former semi-join + distinct
    # + doc-level stitch join into the bloom probe's own aggregation —
    # the train split is scanned+shingled once instead of twice, and the
    # final plan loses two joins and an exchange.
    tr = shingled_grams(docs.filter(bucket < 80), n=3)
    bl = bloom_decontaminate(tr, ev, m_bits=65536, n_hashes=3, with_exact=True)
    return bl.select(
        "doc_id",
        F.col("bloom_flagged").cast("int").alias("bloom_flagged"),
        F.col("exact_flagged").cast("int").alias("exact_flagged"),
        ((F.col("bloom_flagged") == 1) & (F.col("exact_flagged") == 0))
        .cast("int")
        .alias("false_positive"),
    )


# --------------------------------------------------------------------------
# Duplicate-CHUNK removal with reassembly (Dolma / Lee et al. "exact
# paragraph dedup" at sub-document granularity): split every doc into
# fixed 10-token windows, keep the corpus-wide FIRST copy of each
# distinct chunk, rebuild docs from survivors. One explode + one
# md5-keyed groupBy + one equi-join back — never corpus², never a
# corpus-wide window. The oracle replays it with unnest-with-ordinality
# chunking, encoded-min keep-first ((doc_id, idx) lexicographic == min
# of doc_id*2^20+idx for non-negative ids), and FILTERed string_agg
# reassembly.
# --------------------------------------------------------------------------
_CHUNK_K = 10
# unnest + generate_subscripts stay row-aligned in the same SELECT — the
# DuckDB idiom for WITH ORDINALITY
_SQL_CHUNK_CTES = f"""
    chunk_tk AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    chunks AS (
      SELECT doc_id, CAST((ord - 1) // {_CHUNK_K} AS INTEGER) AS chunk_idx,
             string_agg(tok, ' ' ORDER BY ord) AS chunk
      FROM chunk_tk GROUP BY doc_id, (ord - 1) // {_CHUNK_K}
    )"""


@query(
    "d60_chunk_dedup",
    oracle=f"""
    WITH {_SQL_CHUNK_CTES},
    keyed AS (SELECT doc_id, chunk_idx, chunk, md5(chunk) AS h FROM chunks),
    first AS (
      SELECT h, MIN(doc_id * 1048576 + chunk_idx) AS first_id
      FROM keyed GROUP BY h
    ),
    kept AS (
      SELECT k.doc_id, k.chunk_idx, k.chunk,
             (k.doc_id * 1048576 + k.chunk_idx) = f.first_id AS keep
      FROM keyed k JOIN first f ON k.h = f.h
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_chunks,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS INTEGER) AS n_removed,
           CASE WHEN SUM(CASE WHEN keep THEN 0 ELSE 1 END) < COUNT(*)
                THEN string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE keep)
           END AS clean_text
    FROM kept GROUP BY doc_id
    """,
)
def d60_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import chunk_dedup

    docs = load_tables(spark, sf_dir)["documents"]
    return chunk_dedup(docs, chunk_tokens=_CHUNK_K)


# --------------------------------------------------------------------------
# NEAR-duplicate chunk pairs — edited boilerplate (a date swapped, one
# template field changed) hashes to different chunks but bands together
# under MinHash. The engine-neutral LSH pipeline (d45's md5 token hash +
# seeded affine permutations) pointed at the CHUNK frame; chunk identity
# travels as the SQL-invertible chunk_id = doc_id*2^20 + chunk_idx, so
# the oracle is d45's CTE chain over a chunk CTE plus an integer-div
# decode of the ids.
# --------------------------------------------------------------------------
def _d61_oracle() -> str:
    ctes, final = _d45_parts(source="chunks_src")
    return f"""
    WITH {_SQL_CHUNK_CTES},
    chunks_src AS (
      SELECT doc_id * 1048576 + CAST(chunk_idx AS BIGINT) AS doc_id,
             chunk AS text
      FROM chunks
    ),
    {ctes}
    SELECT doc_id_a // 1048576 AS doc_a,
           CAST(doc_id_a % 1048576 AS INTEGER) AS idx_a,
           doc_id_b // 1048576 AS doc_b,
           CAST(doc_id_b % 1048576 AS INTEGER) AS idx_b,
           jaccard,
           (doc_id_a // 1048576) <> (doc_id_b // 1048576) AS cross_doc
    FROM ({final})
    """


@query("d61_chunk_neardup_pairs", oracle=_d61_oracle())
def d61_chunk_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import chunk_neardup_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    return chunk_neardup_pairs(
        docs, chunk_tokens=_CHUNK_K, n=3, num_hashes=64, bands=16, threshold=0.5
    )


# --------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al., 2021 §A1.1): the named
# per-document filter rules, each emitted as its own flag next to the
# measured value it thresholds, so downstream selection can audit WHICH
# rule killed a document (t62's single composite score can't). All
# measurements are integer (per-mille via bigint cross-multiplied
# division); the battery is a map-only projection — no shuffle at any
# scale. Bounds are the published ones (50-100k words, mean word length
# 3-10, ≥80% alphabetic words, ≥2 distinct stopwords).
# --------------------------------------------------------------------------
_SQL_STOPS = "['" + "', '".join(STOPWORDS) + "']"


def _gopher_metric_frame(docs: DataFrame) -> DataFrame:
    """The Gopher rule inputs (Rae et al. 2021 §A1.1, integer-milli form):
    per doc with >= 1 token — n_words, summed word length, alpha-word
    count, distinct-stopword count. Shared verbatim by the gated t100 row
    and the t104 pipeline composition so the composed filter is the SAME
    operator the gate verifies, not a copy."""
    # Tokenization is STAGED as its own projection (optimization r14, the
    # shingled() discipline): inlining `tokens("text")` into each metric
    # re-evaluated the interpreted split+filter HOF once per reference —
    # 5× per row here (the input filter + n_words + sum_len + n_alpha +
    # n_stop). Staging cuts that to 2 (scan filter + one projection);
    # CollapseProject keeps the Projects separate because the alias is
    # referenced four times by non-cheap expressions.
    toks = F.col("__toks")
    return (
        docs.filter(token_count("text") >= 1)
        .select("doc_id", tokens("text").alias("__toks"))
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_words"),
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
            ).alias("sum_len"),
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
            .cast("bigint")
            .alias("n_alpha"),
            F.size(
                F.array_intersect(
                    F.array_distinct(toks), F.array(*[F.lit(s) for s in STOPWORDS])
                )
            )
            .cast("bigint")
            .alias("n_stop"),
        )
    )


def _gopher_rules() -> tuple:
    """(ok_word_count, ok_mean_word_len, ok_alpha_words, ok_stopwords)
    boolean Columns over _gopher_metric_frame's schema."""
    mean_len = F.expr("div(sum_len * 1000, n_words)")
    alpha_frac = F.expr("div(n_alpha * 1000, n_words)")
    return (
        F.col("n_words").between(50, 100000),
        mean_len.between(3000, 10000),
        alpha_frac >= 800,
        F.col("n_stop") >= 2,
    )


@query(
    "t100_gopher_quality_rules",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
                              (a, b) -> a + b) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(list_distinct(toks), {_SQL_STOPS}))
               AS BIGINT) AS n_stop
      FROM tk WHERE len(toks) >= 1
    )
    SELECT doc_id, n_words,
           sum_len * 1000 // n_words AS mean_word_len_milli,
           n_alpha * 1000 // n_words AS alpha_frac_milli,
           n_stop,
           CAST(n_words BETWEEN 50 AND 100000 AS INT) AS ok_word_count,
           CAST(sum_len * 1000 // n_words BETWEEN 3000 AND 10000 AS INT)
             AS ok_mean_word_len,
           CAST(n_alpha * 1000 // n_words >= 800 AS INT) AS ok_alpha_words,
           CAST(n_stop >= 2 AS INT) AS ok_stopwords,
           CAST(n_words BETWEEN 50 AND 100000
                AND sum_len * 1000 // n_words BETWEEN 3000 AND 10000
                AND n_alpha * 1000 // n_words >= 800
                AND n_stop >= 2 AS INT) AS pass_all
    FROM m
    """,
)
def t100_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    m = _gopher_metric_frame(docs)
    mean_len = F.expr("div(sum_len * 1000, n_words)")
    alpha_frac = F.expr("div(n_alpha * 1000, n_words)")
    ok_wc, ok_mwl, ok_alpha, ok_stops = _gopher_rules()
    return m.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len_milli"),
        alpha_frac.alias("alpha_frac_milli"),
        "n_stop",
        ok_wc.cast("int").alias("ok_word_count"),
        ok_mwl.cast("int").alias("ok_mean_word_len"),
        ok_alpha.cast("int").alias("ok_alpha_words"),
        ok_stops.cast("int").alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_alpha & ok_stops).cast("int").alias("pass_all"),
    )


# --------------------------------------------------------------------------
# t102: BPE merge LEARNING (Sennrich et al. 2016, Algorithm 1) — the one
# LLM-pipeline staple the engine lacked (VERDICT r9 item 4): learn the
# top-N merges by iterative pair counting over the word-frequency
# vocabulary. Oracle is the d62/g48/s57 recipe: a deterministic loop with
# a fixed iteration count unrolls into chained CTEs, each iteration =
# (pair counts, top-1 by (cnt DESC, pair ASC), leftmost-non-overlapping
# replace, token recount). Both engines express "apply one merge" as the
# same string replace on a '<sym><sym>…' encoding, so greedy left-to-
# right application semantics are pinned engine-neutrally.
# --------------------------------------------------------------------------
_T102_MERGES = 12


def _t102_parts(n_merges: int = _T102_MERGES) -> tuple[list[str], list[str]]:
    """CTE chain (w0, then per merge p/b/w/t) + per-merge SELECTs, shared
    by the t102 trainer oracle and the t103 encoder oracle (which reuses
    the b{i} winners to replay the same replace chain over documents)."""
    ctes = [
        """w0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS enc,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '([a-z0-9]+)', 1))
              AS word FROM documents)
      GROUP BY 1
    )"""
    ]
    selects = []
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""p{i} AS (
      SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT freq,
                   unnest([{{'l': s[i], 'r': s[i+1]}}
                           for i in range(1, len(s))]) AS p
            FROM (SELECT freq,
                         string_split(substr(enc, 2, length(enc) - 2), '><') AS s
                  FROM w{i - 1}))
      GROUP BY 1, 2
    ),
    b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
    w{i} AS MATERIALIZED (
      -- vocab-exhaustion guard: when b{i} is empty (no pair left to
      -- merge) its scalar subqueries go NULL and the replace returns
      -- NULL — COALESCE passes enc through unchanged, mirroring the
      -- Spark trainer's loop break
      SELECT COALESCE(replace(enc,
                     '<' || (SELECT l FROM b{i}) || '><' || (SELECT r FROM b{i}) || '>',
                     '<' || (SELECT l FROM b{i}) || (SELECT r FROM b{i}) || '>'),
                      enc) AS enc,
             freq
      FROM w{i - 1}
    ),
    t{i} AS (
      SELECT CAST(sum(freq * len(string_split(substr(enc, 2, length(enc) - 2), '><')))
               AS BIGINT) AS toks
      FROM w{i}
    )"""
        )
        selects.append(
            f"""SELECT CAST({i} AS INTEGER) AS step,
           (SELECT l FROM b{i}) AS left_sym,
           (SELECT r FROM b{i}) AS right_sym,
           (SELECT l FROM b{i}) || (SELECT r FROM b{i}) AS merged,
           (SELECT cnt FROM b{i}) AS pair_count,
           (SELECT toks FROM t{i}) AS corpus_tokens_after
    WHERE EXISTS (SELECT 1 FROM b{i})"""
        )
    return ctes, selects


def _t102_oracle(n_merges: int = _T102_MERGES) -> str:
    ctes, selects = _t102_parts(n_merges)
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(selects)


@query("t102_bpe_learn_merges", oracle=_t102_oracle())
def t102_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.functions.text import bpe_learn_merges

    docs = load_tables(spark, sf_dir)["documents"]
    return bpe_learn_merges(docs, n_merges=_T102_MERGES)


# --------------------------------------------------------------------------
# t103: BPE ENCODING with the learned merges — the apply half of the
# tokenizer stack (t102 learns, t103 tokenizes). Per document: extract
# words, bracket-encode, apply the 12 learned merges as a CHAIN OF
# NESTED string replaces (pure whole-stage-codegen expression — the
# merge table is a plan constant exactly like a production tokenizer's
# frozen vocab), count symbols. One explode + one partial-agg groupBy
# over the corpus; nothing per-merge touches the data a second time.
# Oracle: the t102 CTE chain recomputes the same winners b1..b12, then
# replays the identical nested-replace chain with scalar subqueries.
# --------------------------------------------------------------------------
def _t103_oracle(n_merges: int = _T102_MERGES) -> str:
    ctes, _ = _t102_parts(n_merges)
    # one aliased column per merge level (e1..eN, each referencing the
    # previous LEVEL's column, never re-inlining the whole chain) with a
    # COALESCE vocab-exhaustion guard: an exhausted step (empty b{i})
    # NULLs the replace — pass the encoding through, like the trainer's
    # break. Nesting subqueries keeps the SQL text linear in n_merges.
    inner = (
        "SELECT doc_id, word, regexp_replace(word, '(.)', '<\\1>', 'g') AS e0"
        " FROM docw"
    )
    for i in range(1, n_merges + 1):
        inner = (
            f"SELECT doc_id, word, COALESCE(replace(e{i - 1}, "
            f"'<' || (SELECT l FROM b{i}) || '><' || (SELECT r FROM b{i}) || '>', "
            f"'<' || (SELECT l FROM b{i}) || (SELECT r FROM b{i}) || '>'), e{i - 1})"
            f" AS e{i} FROM ({inner})"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    docw AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS word
      FROM documents
    ),
    encd AS (
      SELECT doc_id, word, e{n_merges} AS enc FROM ({inner})
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(word)) AS BIGINT) AS n_chars,
           CAST(sum(len(string_split(substr(enc, 2, length(enc) - 2), '><')))
             AS BIGINT) AS n_bpe_tokens
    FROM encd GROUP BY doc_id"""
    )


@query("t103_bpe_encode_lengths", oracle=_t103_oracle())
def t103_bpe_encode_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.functions.text import bpe_learn_merges

    docs = load_tables(spark, sf_dir)["documents"]
    merges = bpe_learn_merges(docs, n_merges=_T102_MERGES).orderBy("step").collect()
    rep = "regexp_replace(word, '(.)', '<$1>')"
    for m in merges:
        # learned symbols are [a-z0-9]+ concatenations — safe to inline
        rep = f"replace({rep}, '<{m.left_sym}><{m.right_sym}>', '<{m.merged}>')"
    # hoist the replace chain through ONE aliased column so it is
    # evaluated once per row structurally: split(substring(rep),
    # length(rep)) would otherwise embed the chain twice, relying on
    # codegen CSE. CollapseProject keeps the two Projects separate
    # because duplicating a non-cheap alias is against its cost rule —
    # pinned by test_t103_replace_chain_evaluated_once.
    syms = "split(substring(__enc, 2, length(__enc) - 2), '><')"
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '([a-z0-9]+)', 1)")
            ).alias("word"),
        )
        .select(
            "doc_id",
            F.length("word").alias("__wlen"),
            F.expr(rep).alias("__enc"),
        )
        .select(
            "doc_id",
            "__wlen",
            F.size(F.expr(syms)).alias("__ntok"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("__wlen").cast("bigint").alias("n_chars"),
            F.sum("__ntok").cast("bigint").alias("n_bpe_tokens"),
        )
    )


# --------------------------------------------------------------------------
# t106: PRODUCTION-SCALE BPE ENCODE (VERDICT r11 item 1 — the one operator
# whose production regime was structurally unserved): t103's nested-
# replace chain is O(n_merges) EXPRESSION DEPTH, dead in Catalyst/codegen
# well before a 32k-merge vocab. t106 is the scale path: the merge table
# is a FROZEN 256-merge artifact (learned by the t102 trainer over the
# vocab-sustaining sf0.1 corpus, SCALE_PROBE_bpe_r12.json — exactly how a
# production tokenizer ships its vocab) broadcast as a rank map, and the
# encode runs Arrow-batched greedy lowest-rank-first merging inside
# mapInPandas with a unique-word memo — per-doc cost independent of
# n_merges (probed flat at 12/64/256 merges, SCALE_PROBE_bpe_encode.json)
# and byte-identical to the expression chain on any valid table
# (tests/test_text_functions.py, test_properties.py).
# Input is enriched with one deterministic hex word per doc
# (lower(text) || ' ' || md5(doc_id), the trainer corpus recipe) so the
# hex-heavy half of the frozen table actually fires at gate scale.
# Oracle: the same 256 merges replayed IN TRAINING ORDER as a linear
# chain of 256 replace CTEs (each leftmost-non-overlapping replace-all on
# the bracket encoding — the engine-neutral primitive every BPE oracle
# here uses); no exhaustion guard needed, the table is a constant.
# --------------------------------------------------------------------------
def _t106_oracle() -> str:
    from pymongraph_spark.functions.bpe_frozen import FROZEN_MERGES_R12

    ctes = [
        """docw AS (
      SELECT doc_id,
             unnest(regexp_extract_all(
               lower(text) || ' ' || md5(CAST(doc_id AS VARCHAR)),
               '([a-z0-9]+)', 1)) AS word
      FROM documents
    )""",
        "e0 AS (SELECT doc_id, word, "
        "regexp_replace(word, '(.)', '<\\1>', 'g') AS e FROM docw)",
    ]
    for i, (l, r) in enumerate(FROZEN_MERGES_R12, start=1):
        # learned symbols are [a-z0-9]+ concatenations — safe to inline
        ctes.append(
            f"e{i} AS (SELECT doc_id, word, "
            f"replace(e, '<{l}><{r}>', '<{l}{r}>') AS e FROM e{i - 1})"
        )
    n = len(FROZEN_MERGES_R12)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(word)) AS BIGINT) AS n_chars,
           CAST(sum(len(string_split(substr(e, 2, length(e) - 2), '><')))
             AS BIGINT) AS n_bpe_tokens
    FROM e{n} GROUP BY doc_id"""
    )


@query("t106_bpe_encode_frozen", oracle=_t106_oracle())
def t106_bpe_encode_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t106_projection(load_tables(spark, sf_dir)["documents"])


def _t106_projection(docs: DataFrame) -> DataFrame:
    """t106's full battery over any (doc_id, text) frame — shared with
    the st95 on-ingest tokenizer so batch and stream are the SAME
    operator (the t105/st93 discipline: encoding is per-doc
    deterministic, so the stream's union of per-batch outputs equals
    the batch projection and both share one oracle)."""
    from pymongraph_spark.functions.bpe_frozen import FROZEN_MERGES_R12
    from pymongraph_spark.functions.text import bpe_encode_doc_stats

    # normalization + enrichment stay JVM-side (F.lower / F.md5) so the
    # Python stage receives pre-normalized text — see bpe_encode_doc_stats
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.lower("text"), F.lit(" "), F.md5(F.col("doc_id").cast("string"))
        ).alias("text"),
    )
    return bpe_encode_doc_stats(enriched, FROZEN_MERGES_R12)


# --------------------------------------------------------------------------
# Quality-bound rows for the rows-only approximations (VERDICT r10 item 3,
# with g56/g57 in queries/graph.py and q92 in queries/relational.py): each
# emits ONLY exact values + integer bound flags, so the hash gate binds
# approximation QUALITY without putting engine-specific hash values (which
# DuckDB cannot reproduce) into the hashed output.
# --------------------------------------------------------------------------
@query(
    "d63_minhash_recall_bound",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
      WHERE len(toks) >= 3
    ), ex AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)))
          >= 0.5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs,
           1 AS recall_milli_ge_900
    FROM ex
    """,
)
def d63_minhash_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d42's quality bound: the xxhash64 banded-LSH pair set must recall
    ≥ 90% of the UNBLOCKED exact 3-gram-Jaccard ≥ 0.5 pair set (the
    ground truth d42's verify step targets; measured recall 1.0 at
    sf0.001/0.01/0.1 — the 16-band/4-row S-curve misses a j=0.9 pair
    with probability ~4e-8). A banding bug, signature collapse, or
    broken verify threshold drops the flag to 0 and the row red, where
    d42's rows-only gate stayed green. The corpus² exact join is gate-
    scale only — the production recall estimator would sample."""
    from pymongraph_spark.operators.dedup import minhash_lsh_pairs, token_jaccard_pairs

    docs = load_tables(spark, sf_dir)["documents"]
    # block_cols=() — the UNBLOCKED ground truth: d42's LSH bands don't
    # know about lang, and 19 of sf0.01's 25 true pairs are cross-lang
    exact = token_jaccard_pairs(docs, n=3, threshold=0.5, block_cols=()).select(
        "doc_id_a", "doc_id_b"
    )
    lsh = minhash_lsh_pairs(
        docs, n=3, num_hashes=64, bands=16, threshold=0.5
    ).select("doc_id_a", "doc_id_b")
    j = exact.join(lsh, ["doc_id_a", "doc_id_b"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("exact_pairs"))
        .crossJoin(j.agg(F.count(F.lit(1)).alias("__hits")))
        .select(
            F.col("exact_pairs").cast("bigint"),
            (
                F.col("__hits") * F.lit(1000)
                >= F.lit(900) * F.greatest(F.col("exact_pairs"), F.lit(1))
            ).cast("int").alias("recall_milli_ge_900"),
        )
    )


@query(
    "d64_simhash_locality_bound",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           1 AS planted_recall_at_3_ge_700,
           1 AS mean_hamming_le_4
    FROM documents
    """,
)
def d64_simhash_locality_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d43's quality bound, planted form. A recall floor against exact
    high-Jaccard pairs would be arbitrary for simhash on this corpus
    (measured: hamming≤3 recall of j≥0.95 pairs is 0.154-0.571 and
    scale-DEPENDENT, and the d46 md5 family's pair set overlaps d43's at
    set-jaccard 0.03 — the two hash families are not comparable pairwise).
    What IS stable and deterministic is the fingerprint's LOCALITY
    contract: dropping one token from a document must flip few bits.
    Planted single-token-drop near-dups (jaccard ≈ 0.99 by construction)
    measured: ≥ 77% within hamming 3 (d43's detection radius) and mean
    hamming ≤ 1.65 across sf0.001-0.1 — floors 0.70 and 4.0. A
    degraded fingerprint (bit-mask bug, tokenizer drift, sign-sum error)
    explodes the mean and collapses the planted recall."""
    from pymongraph_spark.operators.dedup import simhash

    docs = load_tables(spark, sf_dir)["documents"]
    pert = docs.select(
        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+\s*$", "").alias("text"),
    )
    s = simhash(docs.select("doc_id", "text").unionByName(pert))
    a = s.filter(F.col("doc_id") < 1_000_000_000).select(
        F.col("doc_id").alias("id"), F.col("simhash").alias("__h1")
    )
    b = s.filter(F.col("doc_id") >= 1_000_000_000).select(
        (F.col("doc_id") - 1_000_000_000).alias("id"),
        F.col("simhash").alias("__h2"),
    )
    d = a.join(b, "id").select(
        F.bit_count(F.expr("__h1 ^ __h2")).alias("__ham")
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.avg((F.col("__ham") <= 3).cast("int")) >= F.lit(0.70)
        ).cast("int").alias("planted_recall_at_3_ge_700"),
        (F.avg("__ham") <= F.lit(4.0)).cast("int").alias("mean_hamming_le_4"),
    )


@query(
    "s62_lsh_topk_recall_bound",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           1 AS mean_recall_milli_ge_500
    FROM embeddings WHERE vec_id < 8
    """,
)
def s62_lsh_topk_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s51's quality bound: mean recall@5 of the multi-probe/multi-table
    sign-LSH top-k against s50's exact brute-force top-k must stay ≥ 0.5
    (measured 0.675/0.8/0.85 at sf0.001/0.01/0.1 with the s51 config:
    8 planes, radius 2, 4 tables — deterministic, seeded hyperplanes).
    A bucketing or probe-expansion bug collapses recall to ~0 and the
    row red, where s51's rows-only gate stayed green."""
    from pymongraph_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = lsh_topk(
        emb, queries, dim=64, k=5, n_planes=8, probe_radius=2, n_tables=4
    ).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("__h")),
            "query_id",
            "left",
        )
        .select(
            (F.coalesce(F.col("__h"), F.lit(0)) / F.col("__n")).alias("__recall")
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        (F.avg("__recall") >= F.lit(0.5)).cast("int").alias(
            "mean_recall_milli_ge_500"
        ),
    )


@query(
    "s63_vectorized_equiv_bound",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(0 AS BIGINT) AS n_set_mismatch
    FROM embeddings WHERE vec_id < 8
    """,
)
def s63_vectorized_equiv_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s53's quality bound: the Arrow-vectorized brute force reorders
    float sums (numpy SIMD-blocked dot), so its cosine VALUES are not
    bit-comparable to s50's strict left fold — but the top-5 neighbor
    SETS must agree exactly unless a true tie straddles the k boundary
    (none in this corpus; measured 0 mismatches at sf0.001/0.01/0.1). A
    transposed matrix, off-by-one batch slice, or wrong norm turns
    n_set_mismatch > 0 and the row red."""
    from pymongraph_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_vectorized,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, queries, k=5)
    qpdf = queries.select("vec_id", "embedding").toPandas()
    vect = brute_force_topk_vectorized(emb, qpdf, k=5)
    sets = lambda df, col: df.groupBy("query_id").agg(  # noqa: E731
        F.array_sort(F.collect_list("neighbor_id")).alias(col)
    )
    j = sets(exact, "__e").join(sets(vect, "__v"), "query_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum((F.col("__e") != F.col("__v")).cast("bigint")).alias(
            "n_set_mismatch"
        ),
    )


# --------------------------------------------------------------------------
# t104: END-TO-END PIPELINE COMPOSITION (VERDICT r10 item 5) — the gate's
# first test that the LLM-pipeline operators COMPOSE, not just run alone.
# One registered query chains, through the operators' real interfaces:
#   exact dedup (operators.dedup.dedup_keep_first, the d40 survivor rule)
#   -> Bloom decontamination (operators.dedup.bloom_decontaminate over the
#      d52/d59 80/10/10 md5 split; cross-engine filter bits, no false
#      negatives, false positives replayed EXACTLY by the oracle)
#   -> Gopher quality rules (_gopher_metric_frame/_gopher_rules — the
#      SAME code path t100 gates)
#   -> per-shard sequence packing (the t66 exclusive-cumsum bins at a
#      512-token context — the filtered test corpus holds ~1.1k tokens
#      per shard, so 4096 would leave every shard in bin 0 and the bin
#      arithmetic untested; 512 yields 2-3 bins per shard,
#      partitioned by the sink's shard key so packing parallelizes across
#      shards at 100 TB instead of forcing a global sort)
#   -> shard manifest (operators.sink.shard_expr — the t72/write_shards
#      assignment, so this manifest matches a written layout).
# The composed DuckDB oracle replays every stage in one WITH chain; any
# interface or ordering bug between stages turns the row red. All-integer
# output -> exact hash match.
# --------------------------------------------------------------------------
_T104_SHARD8 = _sql_md5_fold("CAST(doc_id AS VARCHAR)", 8, 8)
# 5-gram shingles for the decontamination stage: d59's 3-grams flag
# 378/395 of the synthetic corpus (3-grams collide on common phrases) —
# a pipeline that drops 96% of its input hash-matches vacuously. The
# published decontamination recipes use longer windows (GPT-3 13-grams);
# 5-grams measured 43/395 flagged at sf0.01 — both branches exercised.
_T104_NGRAM = 5
_T104_SQL_SHINGLES = (
    f"list_distinct([array_to_string(toks[i:i+{_T104_NGRAM - 1}], ' ') "
    f"for i in generate_series(1, greatest(len(toks) - {_T104_NGRAM - 1}, 0))])"
)
# seed-fold mod the MECHANIZED filter size m (the d65 fold — r11 item 4:
# the composed gate previously pinned m_bits=65536, the regime d65's
# probe measured saturated at 10× scale; now the composition is gated in
# its working regime and m_bits is a hashed output column)
_T104_SEED_FOLD = _sql_md5_fold("CAST(s.seed AS VARCHAR) || ':' || gram", 12, "m")


@query(
    "t104_pipeline_compose",
    oracle=f"""
    WITH surv_ids AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS h
            FROM documents)
      GROUP BY h
    ),
    b AS (
      SELECT d.doc_id, {_SQL_SPLIT_BUCKET} AS bucket, {_SQL_TOKS} AS toks
      FROM documents d JOIN surv_ids USING (doc_id)
    ),
    sh AS (
      SELECT doc_id, bucket, unnest({_T104_SQL_SHINGLES}) AS gram
      FROM (SELECT doc_id, bucket, toks FROM b WHERE len(toks) >= {_T104_NGRAM})
    ),
    ev AS (SELECT DISTINCT gram FROM sh WHERE bucket >= 90),
    mparam AS (SELECT GREATEST(65536, 64 * COUNT(*)) AS m FROM ev),
    pos_ev AS (
      SELECT {_T104_SEED_FOLD} AS pos
      FROM ev, mparam, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    words AS (
      SELECT pos // 63 AS w,
             bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
      FROM pos_ev GROUP BY pos // 63
    ),
    tr AS (SELECT DISTINCT doc_id, gram FROM sh WHERE bucket < 80),
    probe AS (
      SELECT tr.doc_id, tr.gram, {_T104_SEED_FOLD} AS pos
      FROM tr, mparam, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    gh AS (
      SELECT p.doc_id, p.gram,
             SUM(CASE WHEN (COALESCE(w.bits, 0)
                            & (1::BIGINT << CAST(p.pos % 63 AS INT))) <> 0
                      THEN 1 ELSE 0 END) AS nh
      FROM probe p LEFT JOIN words w ON w.w = p.pos // 63
      GROUP BY p.doc_id, p.gram
    ),
    flagged AS (
      SELECT doc_id FROM gh GROUP BY doc_id
      HAVING MAX(CASE WHEN nh = 3 THEN 1 ELSE 0 END) = 1
    ),
    train AS (
      SELECT b.doc_id, b.toks
      FROM b LEFT JOIN flagged f USING (doc_id)
      WHERE b.bucket < 80 AND f.doc_id IS NULL
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
                              (a, b) -> a + b) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(list_distinct(toks), {_SQL_STOPS}))
               AS BIGINT) AS n_stop
      FROM train WHERE len(toks) >= 1
    ),
    kept AS (
      SELECT doc_id, n_words AS n_tokens FROM m
      WHERE n_words BETWEEN 50 AND 100000
        AND sum_len * 1000 // n_words BETWEEN 3000 AND 10000
        AND n_alpha * 1000 // n_words >= 800
        AND n_stop >= 2
    ),
    sharded AS (
      SELECT doc_id, n_tokens, {_T104_SHARD8} AS shard_id FROM kept
    ),
    placed AS (
      SELECT shard_id, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS off
      FROM sharded
    )
    SELECT CAST(shard_id AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(MAX((off + n_tokens + 511) // 512) AS BIGINT) AS n_sequences,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST((SELECT m FROM mparam) AS BIGINT) AS m_bits
    FROM placed GROUP BY shard_id
    """,
)
def t104_pipeline_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # m_bits=None → mechanized sizing (dedup.bloom_m_bits_for), emitted
    # as a hashed output column so the SIZING RULE is gated inside the
    # composition (r11 item 4) — the r11 gate pinned 65536, the regime
    # the t104 scale probe measured 87% full / 66% gram-FP at 10× scale.
    return pipeline_compose(spark, sf_dir, m_bits=None)


def pipeline_compose(
    spark: SparkSession, sf_dir: str, m_bits: int | None = None
) -> DataFrame:
    from pymongraph_spark.operators.dedup import dedup_keep_first, plan_size_bytes

    docs = load_tables(spark, sf_dir)["documents"]
    hint = plan_size_bytes(docs)

    # Stage 1 — exact dedup, keep-first survivor rule (d40 discipline).
    # Materialized ONCE (guide §3.3/§5): the tail consumes the survivor
    # frame from two subtrees (the shingle scan feeding ev/tr and the
    # Gopher train branch), each of which would otherwise re-run the
    # full scan → md5 groupBy → semi-join dedup. One lineage cut trades
    # a single survivor-sized materialization for N full recomputes.
    surv = (
        dedup_keep_first(docs)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    return _compose_tail(surv, m_bits=m_bits, spread_hint_bytes=hint)


def _compose_tail(
    surv: DataFrame,
    m_bits: int | None = None,
    spread_hint_bytes: int | None = None,
) -> DataFrame:
    """Stages 2-5 of the composed pipeline (Bloom decontamination →
    Gopher rules → per-shard packing → manifest) over any (doc_id, text)
    survivor frame — shared by t104 (exact-dedup survivors) and t107
    (exact + MinHash near-dup survivors)."""
    from pymongraph_spark.operators.dedup import (
        bloom_decontaminate,
        shingled_grams,
    )
    from pymongraph_spark.operators.sink import shard_expr

    # Stage 2 — Bloom decontamination over the d52/d59 md5 split: eval
    # grams (bucket >= 90) fold into the broadcast filter; train docs
    # (bucket < 80) whose any-shingle hits all 3 seeds are dropped.
    # bucket is a pure function of doc_id, so each side filters its DOCS
    # before shingling (optimization r14, guide §2.3 "project before the
    # expensive work"): the former post-explode bucket filter tokenized
    # and shingled 100% of the survivors once per consumer — 2.0
    # corpus-scans of shingle work here vs 0.9 (eval 10% + train 80%)
    # with the filter on the doc_id function pushed below the explode.
    # No InferFiltersFromGenerate hazard: the filter references only
    # doc_id, never the gram array.
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    # localCheckpoint before the sizing count (the d65/ADVICE discipline:
    # the count and the filter build must not each re-run the eval-side
    # shingle scan); the checkpointed frame is tiny — distinct eval grams.
    # spread_hint_bytes: surv sits behind a checkpoint, which erases the
    # scan statistics the _spread size gate reads — the caller passes the
    # original docs scan's estimate (an upper bound on the survivor set)
    # so bench-scale inputs skip the full-text round-robin exchange here
    # exactly like the direct-scan callers (optimization r15, guide §2.4)
    ev = (
        shingled_grams(
            surv.filter(bucket >= 90),
            n=_T104_NGRAM,
            spread_hint_bytes=spread_hint_bytes,
        )
        .select("gram")
        .distinct()
        .localCheckpoint(eager=True)
    )
    if m_bits is None:
        from pymongraph_spark.operators.dedup import bloom_m_bits_for

        m_bits = bloom_m_bits_for(ev.count())
    tr = shingled_grams(
        surv.filter(bucket < 80),
        n=_T104_NGRAM,
        spread_hint_bytes=spread_hint_bytes,
    )
    flagged = (
        bloom_decontaminate(tr, ev, m_bits=m_bits, n_hashes=3)
        .filter(F.col("bloom_flagged") == 1)
        .select("doc_id")
    )
    # docs with < _T104_NGRAM tokens have no shingles, hence no flag row
    # — the anti-join keeps them (they cannot contain an eval n-gram),
    # matching the oracle's LEFT JOIN ... IS NULL.
    train = (
        surv.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 80)
        .join(flagged, "doc_id", "left_anti")
    )

    # Stage 3 — Gopher rules, the exact t100 code path.
    ok_wc, ok_mwl, ok_alpha, ok_stops = _gopher_rules()
    kept = (
        _gopher_metric_frame(train)
        .filter(ok_wc & ok_mwl & ok_alpha & ok_stops)
        .select("doc_id", F.col("n_words").alias("n_tokens"))
    )

    # Stage 4+5 — pack per shard (t66 exclusive-cumsum bins, partitioned
    # by the sink's shard key) and emit the t72-shape manifest.
    sharded = kept.select(
        "doc_id", "n_tokens", shard_expr("doc_id", 8).alias("shard_id")
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = sharded.withColumn(
        "off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    # n_sequences = 512-token bins the packed spans [off, off+n_tokens)
    # OCCUPY (ADVICE r11: counting only bins where a doc STARTS
    # undercounts when a doc crosses a bin boundary). Packing is
    # contiguous per shard, so occupancy = ceil(span end / 512) of the
    # last span = ceil(total_tokens / 512) — computed from the spans so
    # the packing offsets stay load-bearing.
    return (
        placed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(F.expr("(off + n_tokens + 511) div 512")).alias("n_sequences"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .withColumn("m_bits", F.lit(m_bits).cast("bigint"))
    )


# --------------------------------------------------------------------------
# t107: the composed pipeline WITH THE FUZZY TIER (VERDICT r11 item 3 —
# t104 composes exact dedup only, so the near-dup ↔ decontamination
# interface, the most expensive seam at 100 TB, had no composed gate):
#   plant near-dups → exact dedup (d40) → MinHash LSH near-dup pairs
#   (the d45 engine-neutral recipe) → connected components, keep min id
#   (the d49 cluster rule) → Bloom decontamination (sized, d65 rule) →
#   Gopher rules → per-shard packing → manifest.
# The synthetic corpus's only high-jaccard pairs are EXACT duplicates,
# which stage 1 removes — an unplanted fuzzy stage would hash-match
# vacuously. So the query PLANTS near-dups deterministically (the
# q26/t105 discipline, the SCALE_PROBE_st92 planting idea): every doc
# with doc_id % 40 = 3 gets a copy at doc_id + 1000000 with a short tail
# appended — distinct text (survives exact dedup), ~0.98 3-gram jaccard
# (caught by 16-band LSH at threshold 0.5) — and the manifest carries
# n_neardup_dropped, hash-checked nonzero by both engines. The oracle
# replays ALL of it in one WITH RECURSIVE chain: planting, dedup, the
# full d45 banded-join candidate generation, transitive closure, the
# keep-min drop, then the sized-Bloom/Gopher/packing tail.
# --------------------------------------------------------------------------
_T107_PLANT_MOD = 40
_T107_TAIL = " planted near dup tail r12"


def _t107_oracle() -> str:
    d45_ctes, d45_final = _d45_parts(source="sv")
    return f"""
    WITH RECURSIVE pl AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || '{_T107_TAIL}' AS text
      FROM documents WHERE doc_id % {_T107_PLANT_MOD} = 3
    ),
    surv_ids AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS h
            FROM pl)
      GROUP BY h
    ),
    sv AS (SELECT pl.doc_id, pl.text FROM pl JOIN surv_ids USING (doc_id)),
    {d45_ctes},
    npairs AS ({d45_final}),
    und AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM npairs
      UNION ALL SELECT doc_id_b, doc_id_a FROM npairs
    ),
    reach(id, root) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.root FROM reach r JOIN und u ON u.a = r.id
    ),
    dropped AS (
      SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(root) <> id
    ),
    fz AS (
      SELECT sv.doc_id, sv.text FROM sv LEFT JOIN dropped d USING (doc_id)
      WHERE d.doc_id IS NULL
    ),
    fb AS (
      SELECT doc_id, {_SQL_SPLIT_BUCKET} AS bucket, {_SQL_TOKS} AS toks FROM fz
    ),
    fsh AS (
      SELECT doc_id, bucket, unnest({_T104_SQL_SHINGLES}) AS gram
      FROM (SELECT doc_id, bucket, toks FROM fb WHERE len(toks) >= {_T104_NGRAM})
    ),
    ev AS (SELECT DISTINCT gram FROM fsh WHERE bucket >= 90),
    mparam AS (SELECT GREATEST(65536, 64 * COUNT(*)) AS m FROM ev),
    pos_ev AS (
      SELECT {_T104_SEED_FOLD} AS pos
      FROM ev, mparam, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    words AS (
      SELECT pos // 63 AS w,
             bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
      FROM pos_ev GROUP BY pos // 63
    ),
    tr AS (SELECT DISTINCT doc_id, gram FROM fsh WHERE bucket < 80),
    probe AS (
      SELECT tr.doc_id, tr.gram, {_T104_SEED_FOLD} AS pos
      FROM tr, mparam, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    gh AS (
      SELECT p.doc_id, p.gram,
             SUM(CASE WHEN (COALESCE(w.bits, 0)
                            & (1::BIGINT << CAST(p.pos % 63 AS INT))) <> 0
                      THEN 1 ELSE 0 END) AS nh
      FROM probe p LEFT JOIN words w ON w.w = p.pos // 63
      GROUP BY p.doc_id, p.gram
    ),
    flagged AS (
      SELECT doc_id FROM gh GROUP BY doc_id
      HAVING MAX(CASE WHEN nh = 3 THEN 1 ELSE 0 END) = 1
    ),
    train AS (
      SELECT fb.doc_id, fb.toks
      FROM fb LEFT JOIN flagged f USING (doc_id)
      WHERE fb.bucket < 80 AND f.doc_id IS NULL
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
                              (a, b) -> a + b) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(list_distinct(toks), {_SQL_STOPS}))
               AS BIGINT) AS n_stop
      FROM train WHERE len(toks) >= 1
    ),
    kept AS (
      SELECT doc_id, n_words AS n_tokens FROM m
      WHERE n_words BETWEEN 50 AND 100000
        AND sum_len * 1000 // n_words BETWEEN 3000 AND 10000
        AND n_alpha * 1000 // n_words >= 800
        AND n_stop >= 2
    ),
    sharded AS (
      SELECT doc_id, n_tokens, {_T104_SHARD8} AS shard_id FROM kept
    ),
    placed AS (
      SELECT shard_id, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS off
      FROM sharded
    )
    SELECT CAST(shard_id AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(MAX((off + n_tokens + 511) // 512) AS BIGINT) AS n_sequences,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST((SELECT m FROM mparam) AS BIGINT) AS m_bits,
           CAST((SELECT COUNT(*) FROM dropped) AS BIGINT) AS n_neardup_dropped
    FROM placed GROUP BY shard_id
    """


@query("t107_pipeline_compose_fuzzy", oracle=_t107_oracle())
def t107_pipeline_compose_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import (
        dedup_keep_first,
        minhash_lsh_pairs_neutral,
    )
    from pymongraph_spark.operators.graph_algos import connected_components, endpoint_ids

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    # the planted ids live at doc_id + 1000000, and BOTH engines share
    # that offset — so an id collision with a real doc at a larger scale
    # factor would corrupt the result in a way the oracle gate cannot
    # catch (ADVICE r12). Fail loud instead: one bounded agg job.
    max_id = docs.agg(F.max("doc_id")).first()[0] or 0
    if max_id >= 1_000_000:
        raise ValueError(
            f"t107 planted-near-dup offset collision: max doc_id {max_id} "
            ">= 1000000 — raise the plant offset in query AND oracle"
        )
    planted = docs.filter(F.col("doc_id") % _T107_PLANT_MOD == 3).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_T107_TAIL)).alias("text"),
    )
    full = docs.unionByName(planted)

    # Stage 1 — exact dedup (the planted copies survive: distinct text).
    # Materialized ONCE: downstream, surv feeds (a) the MinHash signature
    # pass, (b) the anti-join producing the fuzzy survivors, and (c) both
    # tail subtrees via that anti-join — without the lineage cut each of
    # those re-runs the scan+plant+dedup (measured 4 recomputes in the
    # before-plan; guide §3.3 "materialising an intermediate truncates
    # the plan").
    surv = dedup_keep_first(full).localCheckpoint(eager=True)

    # Stage 1.5 — the FUZZY tier: d45 banded MinHash candidates verified
    # at jaccard >= 0.5, connected components over the (tiny) pair graph,
    # keep the min id per cluster (the d49 rule). At 100 TB the pair
    # graph holds only docs with >= 1 near-dup, so the CC loop never
    # touches the corpus.
    pairs = (
        minhash_lsh_pairs_neutral(surv, n=3, num_hashes=64, bands=16, threshold=0.5)
        .select("doc_id_a", "doc_id_b")
    )
    verts = endpoint_ids(pairs, "doc_id_a", "doc_id_b").distinct()
    edges = pairs.select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    )
    # The localCheckpoint stays (r15 A/B): dropping it made the count +
    # anti-join consumers re-run the verts-distinct + label join and
    # measured ~0.3s SLOWER steady-state than one eager materialization.
    noncanon = (
        connected_components(verts, edges, max_iter=200)
        .filter(F.col("component") != F.col("id"))
        .select(F.col("id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    n_dropped = noncanon.count()  # bounded: pair-graph vertices only
    # Broadcast the near-dup id set into the anti-join when it is small
    # (optimization r15, guide §3.1): noncanon sits behind a checkpoint,
    # so the planner has no stats and chose SortMergeJoin LeftAnti — and
    # the un-checkpointed `fuzzy` is re-planned per tail consumer, so the
    # surv side paid the sort+exchange TWICE (t107 after-plan nodes 9/18
    # in plans/r15). n_dropped is already computed for the output column;
    # 1M ids ≈ 8 MB broadcast. Above the bound the SMJ shape stands.
    nc = F.broadcast(noncanon) if n_dropped <= 1_000_000 else noncanon
    fuzzy = surv.join(nc, "doc_id", "left_anti")

    # Stages 2-5 — the t104 tail (sized Bloom → Gopher → pack → manifest)
    # over the fuzzy survivors; n_neardup_dropped is hash-checked nonzero.
    from pymongraph_spark.operators.dedup import plan_size_bytes

    return _compose_tail(
        fuzzy, spread_hint_bytes=plan_size_bytes(docs)
    ).withColumn("n_neardup_dropped", F.lit(n_dropped).cast("bigint"))


# --------------------------------------------------------------------------
# t108: the composed pipeline packing by TOKENIZER TOKENS — t104/t107
# pack by whitespace word counts, but a production pipeline packs by the
# tokenizer's own token counts (context windows are measured in BPE
# tokens, not words). t108 chains exact dedup → sized Bloom
# decontamination → Gopher rules → the t106 FROZEN-VOCAB ENCODE over the
# kept docs (broadcast rank map in mapInPandas — the scale path) →
# per-shard 512-TOKEN packing on n_bpe_tokens → manifest. This is the
# true production stage order (tokenize after quality filtering, pack in
# tokenizer units); the oracle replays the Bloom/Gopher chain and then
# the frozen table as a sequential replace-CTE chain RESTRICTED TO THE
# KEPT DOCS, so the tokenize↔pack interface is cross-engine-gated.
# No md5-tail enrichment here (that is t106's gate trick to fire the hex
# merges): t108 packs the real text's token counts.
# MERGE-TABLE PREFIX, deliberately: the synthetic corpus's 31-word
# vocabulary saturates at ~89 learned merges (SCALE_PROBE_bpe_r11), so
# the full 256-merge table degenerately maps EVERY corpus word to one
# token — total_tokens would coincide with t104's word counts and the
# token-vs-word packing distinction would be gate-invisible (the
# vacuous-evidence trap). The first 32 merges (a valid table's prefix is
# itself a valid table) leave most words partially merged: tokens >
# words, pinned by test_t108_packs_tokenizer_units.
# --------------------------------------------------------------------------
_T108_MERGES = 32


def _tokenized_pack_oracle(n_merges: int | None, enrich_hex: bool) -> str:
    """Shared oracle for the tokenizer-unit packing pipeline: t108
    (32-merge prefix over raw text) and t109 (FULL frozen table over
    hex-enriched text — see t109's header for why the enrichment is
    what keeps the full-table regime non-vacuous)."""
    from pymongraph_spark.functions.bpe_frozen import FROZEN_MERGES_R12

    merges = FROZEN_MERGES_R12[:n_merges] if n_merges else FROZEN_MERGES_R12
    src = (
        "lower(d.text) || ' ' || md5(CAST(d.doc_id AS VARCHAR))"
        if enrich_hex
        else "lower(d.text)"
    )
    enc_ctes = [
        f"""docw AS (
      SELECT k.doc_id,
             unnest(regexp_extract_all({src}, '([a-z0-9]+)', 1)) AS word
      FROM kept k JOIN documents d USING (doc_id)
    )""",
        "e0 AS (SELECT doc_id, regexp_replace(word, '(.)', '<\\1>', 'g') AS e"
        " FROM docw)",
    ]
    for i, (l, r) in enumerate(merges, start=1):
        enc_ctes.append(
            f"e{i} AS (SELECT doc_id, "
            f"replace(e, '<{l}><{r}>', '<{l}{r}>') AS e FROM e{i - 1})"
        )
    n = len(merges)
    enc_sql = ",\n    ".join(enc_ctes)
    return f"""
    WITH b AS (
      SELECT doc_id, {_SQL_SPLIT_BUCKET} AS bucket, {_SQL_TOKS} AS toks
      FROM documents d
      WHERE doc_id IN (
        SELECT MIN(doc_id)
        FROM (SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS h
              FROM documents)
        GROUP BY h)
    ),
    sh AS (
      SELECT doc_id, bucket, unnest({_T104_SQL_SHINGLES}) AS gram
      FROM (SELECT doc_id, bucket, toks FROM b WHERE len(toks) >= {_T104_NGRAM})
    ),
    ev AS (SELECT DISTINCT gram FROM sh WHERE bucket >= 90),
    mparam AS (SELECT GREATEST(65536, 64 * COUNT(*)) AS m FROM ev),
    pos_ev AS (
      SELECT {_T104_SEED_FOLD} AS pos
      FROM ev, mparam, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    words AS (
      SELECT pos // 63 AS w,
             bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
      FROM pos_ev GROUP BY pos // 63
    ),
    tr AS (SELECT DISTINCT doc_id, gram FROM sh WHERE bucket < 80),
    probe AS (
      SELECT tr.doc_id, tr.gram, {_T104_SEED_FOLD} AS pos
      FROM tr, mparam, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    gh AS (
      SELECT p.doc_id, p.gram,
             SUM(CASE WHEN (COALESCE(w.bits, 0)
                            & (1::BIGINT << CAST(p.pos % 63 AS INT))) <> 0
                      THEN 1 ELSE 0 END) AS nh
      FROM probe p LEFT JOIN words w ON w.w = p.pos // 63
      GROUP BY p.doc_id, p.gram
    ),
    flagged AS (
      SELECT doc_id FROM gh GROUP BY doc_id
      HAVING MAX(CASE WHEN nh = 3 THEN 1 ELSE 0 END) = 1
    ),
    train AS (
      SELECT b.doc_id, b.toks
      FROM b LEFT JOIN flagged f USING (doc_id)
      WHERE b.bucket < 80 AND f.doc_id IS NULL
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
                              (a, b) -> a + b) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(list_distinct(toks), {_SQL_STOPS}))
               AS BIGINT) AS n_stop
      FROM train WHERE len(toks) >= 1
    ),
    kept AS (
      SELECT doc_id FROM m
      WHERE n_words BETWEEN 50 AND 100000
        AND sum_len * 1000 // n_words BETWEEN 3000 AND 10000
        AND n_alpha * 1000 // n_words >= 800
        AND n_stop >= 2
    ),
    {enc_sql},
    toked AS (
      SELECT doc_id,
             CAST(sum(len(string_split(substr(e, 2, length(e) - 2), '><')))
               AS BIGINT) AS n_tokens
      FROM e{n} GROUP BY doc_id
    ),
    sharded AS (
      SELECT doc_id, n_tokens, {_T104_SHARD8} AS shard_id FROM toked
    ),
    placed AS (
      SELECT shard_id, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS off
      FROM sharded
    )
    SELECT CAST(shard_id AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(MAX((off + n_tokens + 511) // 512) AS BIGINT) AS n_sequences,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST((SELECT m FROM mparam) AS BIGINT) AS m_bits
    FROM placed GROUP BY shard_id
    """


@query("t108_pipeline_compose_tokenized", oracle=_tokenized_pack_oracle(_T108_MERGES, False))
def t108_pipeline_compose_tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tokenized_pack(spark, sf_dir, _T108_MERGES, enrich_hex=False)


def _tokenized_pack(
    spark: SparkSession, sf_dir: str, n_merges: int | None, enrich_hex: bool
) -> DataFrame:
    """Shared body for t108/t109: exact dedup → sized Bloom → Gopher →
    frozen-vocab BPE encode of the kept docs (optionally hex-enriched,
    the t106 recipe) → per-shard 512-TOKEN packing → manifest."""
    from pymongraph_spark.functions.bpe_frozen import FROZEN_MERGES_R12
    from pymongraph_spark.functions.text import bpe_encode_doc_stats
    from pymongraph_spark.operators.dedup import (
        bloom_decontaminate,
        bloom_m_bits_for,
        dedup_keep_first,
        plan_size_bytes,
        shingled_grams,
    )
    from pymongraph_spark.operators.sink import shard_expr

    merges = FROZEN_MERGES_R12[:n_merges] if n_merges else FROZEN_MERGES_R12
    docs = load_tables(spark, sf_dir)["documents"]
    # see _compose_tail: restores the _spread size gate across surv's
    # stats-erasing checkpoint (docs scan size bounds the survivor set)
    hint = plan_size_bytes(docs)
    # Materialized once — same recompute argument as pipeline_compose:
    # the shingle scan and the Gopher train branch each consume surv.
    surv = (
        dedup_keep_first(docs)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )

    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    # Each side filters its DOCS before shingling — bucket is a pure
    # doc_id function (optimization r14, guide §2.3; see _compose_tail).
    ev = (
        shingled_grams(
            surv.filter(bucket >= 90), n=_T104_NGRAM, spread_hint_bytes=hint
        )
        .select("gram")
        .distinct()
        .localCheckpoint(eager=True)
    )
    m_bits = bloom_m_bits_for(ev.count())
    tr = shingled_grams(
        surv.filter(bucket < 80), n=_T104_NGRAM, spread_hint_bytes=hint
    )
    flagged = (
        bloom_decontaminate(tr, ev, m_bits=m_bits, n_hashes=3)
        .filter(F.col("bloom_flagged") == 1)
        .select("doc_id")
    )
    train = (
        surv.withColumn("bucket", bucket)
        .filter(F.col("bucket") < 80)
        .join(flagged, "doc_id", "left_anti")
    )
    ok_wc, ok_mwl, ok_alpha, ok_stops = _gopher_rules()
    kept_ids = (
        _gopher_metric_frame(train)
        .filter(ok_wc & ok_mwl & ok_alpha & ok_stops)
        .select("doc_id")
    )

    # the production stage order: TOKENIZE the kept docs with the frozen
    # vocab (JVM-side lower, then the broadcast-rank-map encode), pack
    # in the tokenizer's own units
    text = (
        F.concat(
            F.lower("text"), F.lit(" "), F.md5(F.col("doc_id").cast("string"))
        )
        if enrich_hex
        else F.lower("text")
    )
    kept_docs = docs.join(kept_ids, "doc_id", "left_semi").select(
        "doc_id", text.alias("text")
    )
    toked = bpe_encode_doc_stats(kept_docs, merges).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )

    sharded = toked.select(
        "doc_id", "n_tokens", shard_expr("doc_id", 8).alias("shard_id")
    )
    # n_sequences used to be computed as max over docs of
    # ceil((off_i + n_i) / 512) with off_i a per-shard running-total
    # window — an exchange plus a full per-shard SORT. But off_i + n_i is
    # the cumulative token sum through doc i, which is monotone
    # nondecreasing (n_i ≥ 0), so its max is the shard TOTAL and the
    # expression collapses to (sum(n_tokens) + 511) div 512 — a plain
    # partial-aggregable column of the same groupBy (optimization r15,
    # guide §2.4 "an orderBy used only to make output deterministic";
    # VERDICT r14 item 3). Equivalence: (x + 511) div 512 is monotone in
    # x, so max_i f(cumsum_i) = f(max_i cumsum_i) = f(total); oracle
    # hash-checked at sf0.001/sf0.01 for t108 AND t109.
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("(sum(n_tokens) + 511) div 512").alias("n_sequences"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .withColumn("m_bits", F.lit(m_bits).cast("bigint"))
    )


# --------------------------------------------------------------------------
# t109: tokenizer-unit packing with the FULL frozen merge table (VERDICT
# r12 item 5 — t108 deliberately packs with a 32-merge PREFIX because the
# synthetic corpus's 31-word vocabulary saturates the full 256-merge table
# into one-token-per-word, which would make the token-vs-word packing
# distinction gate-invisible; that left the exact regime production packs
# with — the full table — never cross-engine-gated). t109 lifts it with
# the vocab-sustaining corpus trick from t106/SCALE_PROBE_bpe_r12: the
# kept docs are enriched with one deterministic hex word per doc
# (lower(text) || ' ' || md5(doc_id) — the recipe the frozen table was
# TRAINED on), so the hex-heavy half of the 256 merges fires and no hex
# word collapses to a single token (a 32-char md5 word would need its
# exact 31-merge chain in the table — the random hex space makes that
# impossible), keeping tokens > words at the full table
# (test_t109_full_table_stays_nonvacuous). Same dedup → sized Bloom →
# Gopher → encode → 512-token packing body as t108; the oracle replays
# the full table as a 256-CTE sequential replace chain over the enriched
# kept docs.
# --------------------------------------------------------------------------
@query("t109_pipeline_compose_tokenized_full", oracle=_tokenized_pack_oracle(None, True))
def t109_pipeline_compose_tokenized_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _tokenized_pack(spark, sf_dir, None, enrich_hex=True)


# --------------------------------------------------------------------------
# d65: Bloom decontamination with the MECHANIZED filter sizing — the gate
# row for bloom_m_bits_for. d59 pins m_bits=65536 (fine at its 3-gram
# gate-scale eval set); the t104 scale probe measured that pinned size
# 87% full at 45k eval grams (gram FP 66% — the filter stops filtering).
# d65 sizes the filter from the eval-gram count at the 1e-4/3-seed
# design point — m = max(65536, 64·n_ev) — and emits m_bits as a column,
# so the driver hash-checks the sizing RULE cross-engine, not just the
# probe. The rule is integer bits-per-gram × count precisely so DuckDB
# can replay it without agreeing with CPython's ln/pow to the ulp.
# 5-gram shingles (vs d59's 3) push n_ev above the 65536 floor at the
# gate scales (~26k grams → m ≈ 1.7M), so the sized path — not the
# floor — is what hash-matches.
# --------------------------------------------------------------------------
_D65_SEED_FOLD = _sql_md5_fold("CAST(s.seed AS VARCHAR) || ':' || gram", 12, "m")


@query(
    "d65_bloom_decontamination_sized",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {_SQL_SPLIT_BUCKET} AS bucket, {_SQL_TOKS} AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, bucket, unnest({_T104_SQL_SHINGLES}) AS gram
      FROM (SELECT doc_id, bucket, toks FROM b WHERE len(toks) >= {_T104_NGRAM})
    ),
    ev AS (SELECT DISTINCT gram FROM sh WHERE bucket >= 90),
    mparam AS (SELECT GREATEST(65536, 64 * COUNT(*)) AS m FROM ev),
    pos_ev AS (
      SELECT {_D65_SEED_FOLD} AS pos
      FROM ev, mparam, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    words AS (
      SELECT pos // 63 AS w,
             bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
      FROM pos_ev GROUP BY pos // 63
    ),
    tr AS (SELECT DISTINCT doc_id, gram FROM sh WHERE bucket < 80),
    probe AS (
      SELECT tr.doc_id, tr.gram, {_D65_SEED_FOLD} AS pos
      FROM tr, mparam, (SELECT unnest([0, 1, 2]) AS seed) s
    ),
    gh AS (
      SELECT p.doc_id, p.gram,
             SUM(CASE WHEN (COALESCE(w.bits, 0)
                            & (1::BIGINT << CAST(p.pos % 63 AS INT))) <> 0
                      THEN 1 ELSE 0 END) AS nh
      FROM probe p LEFT JOIN words w ON w.w = p.pos // 63
      GROUP BY p.doc_id, p.gram
    ),
    bl AS (
      SELECT doc_id, MAX(CASE WHEN nh = 3 THEN 1 ELSE 0 END) AS bf
      FROM gh GROUP BY doc_id
    ),
    ex AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.gram = ev.gram)
    SELECT bl.doc_id,
           CAST(bl.bf AS INT) AS bloom_flagged,
           CAST(ex.doc_id IS NOT NULL AS INT) AS exact_flagged,
           CAST(bl.bf = 1 AND ex.doc_id IS NULL AS INT) AS false_positive,
           CAST((SELECT m FROM mparam) AS BIGINT) AS m_bits
    FROM bl LEFT JOIN ex ON bl.doc_id = ex.doc_id
    """,
)
def d65_bloom_decontamination_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.operators.dedup import (
        bloom_decontaminate,
        bloom_m_bits_for,
        shingled_grams,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    # bucket is a pure function of doc_id, so each side filters its DOCS
    # before shingling (optimization r14, guide §2.3 — see d59): the
    # post-explode shape shingled 100% of the corpus once per consumer.
    # localCheckpoint before counting (ADVICE r11): the sizing count and
    # the filter build otherwise each re-run the eval-side shingle scan.
    # One bounded job sizes the filter — the filter build collects the
    # eval grams to a broadcast constant anyway, so the count adds no new
    # scaling term; at 100 TB you'd count the (small) eval set once and
    # reuse m across runs.
    ev = (
        shingled_grams(docs.filter(bucket >= 90), n=_T104_NGRAM)
        .select("gram")
        .distinct()
        .localCheckpoint(eager=True)
    )
    m_bits = bloom_m_bits_for(ev.count())
    # One pass over the train grams for BOTH flags (optimization r15,
    # guide §2.3/§2.4 — see d59): the former second scan+shingle of the
    # 80% train split (semi-join) and the doc-level stitch join are
    # folded into the bloom probe's aggregation.
    tr = shingled_grams(docs.filter(bucket < 80), n=_T104_NGRAM)
    bl = bloom_decontaminate(tr, ev, m_bits=m_bits, n_hashes=3, with_exact=True)
    return bl.select(
        "doc_id",
        F.col("bloom_flagged").cast("int").alias("bloom_flagged"),
        F.col("exact_flagged").cast("int").alias("exact_flagged"),
        ((F.col("bloom_flagged") == 1) & (F.col("exact_flagged") == 0))
        .cast("int")
        .alias("false_positive"),
        F.lit(m_bits).cast("bigint").alias("m_bits"),
    )


# --------------------------------------------------------------------------
# t105: PII detection + redaction (the Dolma tagger family — emails,
# phone numbers, IPv4s, SSN-shaped ids tagged by regex and masked before
# training; Soldaini et al. 2024). The synthetic corpus contains no PII,
# so — the q26 discipline — deterministic PII is synthesized from
# doc_id arithmetic and embedded in the real text: ~1/3 of docs get an
# email, 1/4 a phone, 1/5 an IP, 1/7 an SSN (overlapping residues give
# multi-PII docs; residue gaps leave clean docs, so both branches of
# every pattern are live). Patterns are single-sourced from
# functions.text.PII_PATTERNS, restricted to the regex subset Java and
# RE2 parse identically; md5 of the redacted text pins the MASKING
# byte-for-byte cross-engine, not just the counts. Map-only projection —
# no shuffle at any scale.
# --------------------------------------------------------------------------
def _t105_oracle() -> str:
    from pymongraph_spark.functions.text import PII_ORDER, PII_PATTERNS

    red = "pii_text"
    for kind in PII_ORDER:
        red = f"regexp_replace({red}, '{PII_PATTERNS[kind]}', '[{kind.upper()}]', 'g')"
    counts = ",\n             ".join(
        f"CAST(len(regexp_extract_all(pii_text, '{PII_PATTERNS[k]}')) AS BIGINT)"
        f" AS n_{k}"
        for k in PII_ORDER
    )
    return f"""
    WITH s AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' reach User' || CAST(doc_id AS VARCHAR) || '@Example.COM ok'
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 1
                     THEN ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
                          || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 2
                     THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 3
                     THEN ' id ' || CAST(100 + doc_id % 900 AS VARCHAR)
                          || '-' || CAST(10 + doc_id % 90 AS VARCHAR)
                          || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                     ELSE '' END AS pii_text
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             {counts},
             {red} AS redacted
      FROM s
    )
    SELECT doc_id, n_email, n_phone, n_ipv4, n_ssn,
           CAST(n_email + n_phone + n_ipv4 + n_ssn > 0 AS INT) AS has_pii,
           md5(redacted) AS masked_md5,
           CAST(length(redacted) AS BIGINT) AS masked_len
    FROM c
    """


@query("t105_pii_redaction", oracle=_t105_oracle())
def t105_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pii_projection(load_tables(spark, sf_dir)["documents"])


def _pii_projection(docs: DataFrame) -> DataFrame:
    """t105's full battery over any (doc_id, text) frame — shared with
    the st93 streaming scrub so batch and stream are the SAME operator
    (and the same oracle: redaction is per-doc deterministic, so the
    stream's union of per-batch outputs equals the batch projection)."""
    from pymongraph_spark.functions.text import PII_ORDER, pii_count, pii_redact

    did = F.col("doc_id")
    s = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                # mixed-case on purpose (ADVICE r11): the gate must
                # exercise the case-insensitive email classes, not just
                # lowercase PII
                F.concat(
                    F.lit(" reach User"),
                    did.cast("string"),
                    F.lit("@Example.COM ok"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 4 == 1,
                F.concat(
                    F.lit(" call 555-"),
                    (did % 900 + 100).cast("string"),
                    F.lit("-"),
                    (did % 9000 + 1000).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 2,
                F.concat(
                    F.lit(" from 10."),
                    (did % 256).cast("string"),
                    F.lit(".0."),
                    ((did * 7) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 3,
                F.concat(
                    F.lit(" id "),
                    (did % 900 + 100).cast("string"),
                    F.lit("-"),
                    (did % 90 + 10).cast("string"),
                    F.lit("-"),
                    (did % 9000 + 1000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("pii_text"),
    )
    counted = s.select(
        "doc_id",
        *[pii_count("pii_text", k).alias(f"n_{k}") for k in PII_ORDER],
        pii_redact("pii_text").alias("redacted"),
    )
    total = sum(F.col(f"n_{k}") for k in PII_ORDER)
    return counted.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        "n_ssn",
        (total > 0).cast("int").alias("has_pii"),
        F.md5(F.col("redacted")).alias("masked_md5"),
        F.length("redacted").cast("bigint").alias("masked_len"),
    )
