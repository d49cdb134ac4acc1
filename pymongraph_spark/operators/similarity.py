"""Similarity search over embedding columns (array<float>).

Every search here is one pruning step feeding one shared ranking step
(``_rank_topk``: per-query row_number over (score, neighbor id)).

Float tier — production paths, strict left-fold dot products
(functions/vectors.py) so scores are bit-stable across engines and
partitionings:
- brute_force_topk / brute_force_topk_vectorized — exact cosine top-k,
  queries broadcast against the corpus (expression-tree fold, or one
  numpy matmul per Arrow batch when fold order may differ);
- lsh_topk — random-hyperplane (sign) LSH, multi-probe and multi-table;
  candidates are an equi-join on bucket keys (``_lsh_buckets``, shared
  with dedup.embedding_dup_pairs), then exact re-rank;
- ivf_assign / ivf_topk / kmeans_centroids — IVF coarse quantization
  with a pure-DataFrame Lloyd's loop;
- pq_codebooks / pq_encode / pq_topk_adc / ivfpq_topk — product
  quantization and IVF+PQ asymmetric-distance search;
- jl_project — Johnson-Lindenstrauss sign projection.
Shared float helpers: ``_scored_cells`` (every vector against every
broadcast centroid, the one metric check), ``_subspace_slices`` (the PQ
subspace split), ``_decimal_means`` (the decimal-grid mean update) and
``_adc_rank``.

Exact-grid tier — the same algorithms on floor(val·1e6) BIGINTs, so a
SQL oracle can replay them bit for bit (see the section header below):
quantize_dims / quantize_arr, grid_seeds, grid_assign +
grid_kmeans_codebook (the exploded-row reference), ivf_kmeans_topk_exact,
pq_adc_topk_exact, and the broadcast-matrix fast path
grid_kmeans_cells_fast / grid_assign_subspaces_fast /
grid_kmeans_codebook_fast. A codebook stays a driver-side numpy matrix
from training to assignment; ``_argmin_kernel`` is the one
nearest-centroid argmin, ``_lloyd`` / ``_mean_update`` the one
truncated-division Lloyd round, ``_assign_from_matrix`` the one
map-only assignment pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pymongraph_spark.functions.vectors import cosine


def _spread_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition a corpus frame ONLY when its scan is narrower than the
    cluster's parallelism: a small parquet file arrives as one input
    split, which serializes the interpreted higher-order-function cosine
    onto a single core (measured 2× on ivf_assign at sf0.1). At real
    scale the scan already has >= parallelism splits and this is a no-op
    — never an unconditional full shuffle of a 100 TB corpus."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _rank_topk(scored: DataFrame, score: str, k: int, descending: bool = False) -> DataFrame:
    """The one ranking step of every top-k search: ``rank`` =
    row_number per query_id ordered by ``score`` (descending for
    similarities, ascending for distances), ties → smaller neighbor_id;
    keeps rank <= k."""
    order = F.desc(score) if descending else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector.

    Deterministic ranking: (-cosine, neighbor id) with self-matches
    excluded. Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = _spread_if_narrow(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
        )
    )
    return _rank_topk(scored, "cosine_sim", k, descending=True)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (fixed seed → stable
    buckets across runs/executors)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    return planes.tolist()


def _bucket_expr(vec_col: str, dim: int, n_planes: int, seed: int):
    """Sign-bit bucket key over n_planes seeded hyperplanes, as a pure
    Column expression: each bit is a dot product against a literal plane
    (whole-stage codegen; planes are plan constants, no join)."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        prods = F.zip_with(
            F.col(vec_col),
            F.array(*[F.lit(float(x)) for x in plane]),
            lambda a, b: a.cast("double") * b,
        )
        d = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket.bitwiseOR(
            F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def _lsh_buckets(
    df: DataFrame,
    keep: dict[str, str],
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    probe_radius: int = 0,
) -> DataFrame:
    """(*keep, bucket): one row per (vector, table, probe mask). ``keep``
    maps output names to input columns. Table t's key is the sign-bit
    bucket over planes seeded ``seed + 7919·t``, with t packed above the
    n_planes bits so tables never cross-match. Probing XORs every mask
    of Hamming weight <= ``probe_radius`` into the key.

    ONE bucket expression per table (the hyperplane dot products are
    n_planes×dim literal trees — building a column per probe mask would
    copy that tree masks× times and blow up codegen), then the probe
    masks XOR the computed bucket COLUMN after the explode. Masks are
    < 2^n_planes so they never touch the packed table id."""
    from itertools import combinations

    raw = df.select(
        *[F.col(src).alias(name) for name, src in keep.items()],
        F.explode(
            F.array(*[
                _bucket_expr(vec_col, dim, n_planes, seed + 7919 * t)
                .bitwiseOR(F.lit(t << n_planes).cast("long"))
                for t in range(n_tables)
            ])
        ).alias("__raw"),
    )
    masks = [0]
    for r in range(1, probe_radius + 1):
        masks.extend(
            sum(1 << i for i in bits) for bits in combinations(range(n_planes), r)
        )
    if masks == [0]:
        return raw.withColumnRenamed("__raw", "bucket")
    mask_arr = F.array(*[F.lit(m).cast("long") for m in masks])
    return raw.select(
        *keep,
        F.explode(
            F.transform(mask_arr, lambda m: F.col("__raw").bitwiseXOR(m))
        ).alias("bucket"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    probe_radius: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probe
    buckets, then exact cosine re-rank. Two recall levers, composable:

    - multi-probe (``probe_radius``): probe the exact bucket plus every
      bucket within that Hamming distance — more probes per query, same
      index size;
    - multiple hash tables (``n_tables``): L independent hyperplane sets;
      a candidate matches if it collides in ANY table — the classic LSH
      amplification. Index is L× larger, but for near-uniform corpora
      (where any single table's nearest-neighbor collision probability
      is low) it buys far more recall per candidate than deeper probing.

    Cost is a bucket equi-join instead of |Q|×n; the corpus side is
    bucketed once per table (one narrow projection, no shuffle — the
    join key includes the table id so tables never cross-match)."""
    cb = _lsh_buckets(
        corpus, {"neighbor_id": id_col, "__cv": vec_col}, vec_col,
        dim, n_planes, n_tables, seed,
    )
    qb = _lsh_buckets(
        queries, {"query_id": id_col, "__qv": vec_col}, vec_col,
        dim, n_planes, n_tables, seed, probe_radius,
    )
    scored = (
        cb.join(F.broadcast(qb), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__cv")).alias("cosine_sim"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, "cosine_sim", k, descending=True)


def brute_force_topk_vectorized(
    corpus: DataFrame,
    queries_pdf,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized exact top-k: the query matrix ships to every
    executor as a plan constant; each Arrow batch of the corpus does ONE
    numpy matmul against all queries. 10-100× the throughput of the
    expression-tree fold in brute_force_topk — the production path when
    bit-identical fold order isn't required (numpy's SIMD-blocked dot
    reorders the float sums).

    ``queries_pdf``: pandas DataFrame with [id_col, vec_col].
    """
    import numpy as np
    import pandas as pd

    if len(queries_pdf) == 0:
        return (
            corpus.sparkSession.createDataFrame(
                [], "query_id bigint, neighbor_id bigint, cosine_sim double, rank int"
            )
        )
    q_ids = queries_pdf[id_col].to_numpy()
    q_mat = np.stack(queries_pdf[vec_col].to_numpy()).astype("float64")
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = "query_id bigint, neighbor_id bigint, cosine_sim double"

    def score(batches):
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            c_norm = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_norm @ q_norm.T  # (batch, n_queries)
            n_b, n_q = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n_b),
                    "neighbor_id": np.tile(c_ids, n_q),
                    "cosine_sim": sims.T.ravel(),
                }
            )

    scored = (
        corpus.select(id_col, vec_col)
        .mapInPandas(score, schema=out_schema)
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _rank_topk(scored, "cosine_sim", k, descending=True)


def _scored_cells(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, metric: str
) -> DataFrame:
    """Every vector scored against every broadcast centroid: (id, vec,
    __cid, __sim), __sim = cosine, or −squared L2 with ``metric='l2'``
    (the proper metric for PQ subspace quantizers, whose slices are not
    direction-normalized) — higher is nearer either way. Codegen'd
    scoring against a broadcast frame, no literal mega-expression (a
    C·dim literal argmax falls out of whole-stage codegen and runs
    interpreted)."""
    c = centroids.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"))
    if metric == "cosine":
        sim = cosine(df[vec_col], F.col("__cv"))
    elif metric == "l2":
        sim = -_l2sq(df[vec_col], F.col("__cv"))
    else:
        raise ValueError(f"unknown metric {metric!r}; use 'cosine' or 'l2'")
    return (
        _spread_if_narrow(df).join(F.broadcast(c))
        .select(df[id_col], df[vec_col], F.col("__cid"), sim.alias("__sim"))
    )


def ivf_assign(df: DataFrame, centroids: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding", metric: str = "cosine") -> DataFrame:
    """Assign every vector to its best centroid (max cosine — or min
    squared L2 with ``metric='l2'``; ties → min centroid id). A max_by
    aggregate picks the cell: partial aggregation collapses each
    vector's C scored rows map-side, so the exchange carries n rows —
    unlike a row_number window, which would sort-shuffle all n×C."""
    order = F.struct(F.col("__sim").alias("s"), (-F.col("__cid")).alias("nc"))
    return (
        _scored_cells(df, centroids, id_col, vec_col, metric)
        .groupBy(id_col)
        .agg(
            F.max_by(F.col("__cid"), order).alias("cell"),
            F.max_by(F.col(vec_col), order).alias(vec_col),
        )
        .select(id_col, vec_col, "cell")
    )


def _ivf_assign_multi(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
    metric: str = "cosine",
) -> DataFrame:
    """Rank every vector against ALL centroids and keep its ``nprobe``
    nearest cells (best similarity first, tie → min cell) — the standard
    IVF recall lever: searching the union of the p nearest cells instead
    of only the argmax cell. Same broadcast shape as ivf_assign; the
    row_number window partitions by vector over |C| rows each, so the
    sort is per-vector-tiny at any corpus size. Returns one row per
    (vector, probed cell): (id, vec, cell). nprobe=1 is ivf_assign's
    single-cell pass (the oracle-pinned classic probe)."""
    if nprobe == 1:
        return ivf_assign(df, centroids, id_col, vec_col, metric)
    scored = _scored_cells(df, centroids, id_col, vec_col, metric)
    w = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("__cid"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= nprobe)
        .select(id_col, vec_col, F.col("__cid").alias("cell"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    centroid cells, search the query's ``nprobe`` nearest cells, exact
    re-rank.

    The scale shape: assignment is a broadcast pass; the search join is an
    equi-join on ``cell``; recall is tuned by centroid count and
    ``nprobe`` (recall@k is monotone in nprobe — each increment only adds
    candidates, never removes; measured by s60's recall harness). The
    default nprobe=1 is bit-identical to the classic single-cell probe
    (s54's oracle contract). Centroid choice is the caller's policy —
    pass a deterministic seed set for reproducibility, or k-means output
    for quality.
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    corpus_cells = ivf_assign(corpus, centroids, id_col, vec_col)
    query_cells = _ivf_assign_multi(queries, centroids, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "cell"
    )
    cands = (
        corpus_cells.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "cell"
        )
        .join(F.broadcast(query_cells), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                cosine(F.col("__qv"), F.col("__cv")).alias("cosine_sim"))
    )
    return _rank_topk(cands, "cosine_sim", k, descending=True)


def _decimal_means(assigned: DataFrame, keys: list[str], vec: str, out: str) -> DataFrame:
    """The float tier's centroid update: per ``keys`` group, the
    component-wise mean of ``vec`` as ``out`` array<float>. posexplode
    to (keys, pos, val) and aggregate — partial (map-side) aggregation
    collapses n×dim rows to groups×dim per partition BEFORE the
    exchange. Sums accumulate in DECIMAL(38,9), so the means are
    partitioning-independent."""
    dim_means = (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(
            (
                F.sum(F.col("val").cast("double").cast("decimal(38,9)"))
                / F.count(F.lit(1))
            )
            .cast("float")
            .alias("mean")
        )
    )
    return dim_means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s["mean"],
        ).alias(out)
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    dedup_seeds: bool = False,
) -> DataFrame:
    """Learn ``k`` centroids with a pure-DataFrame Lloyd's loop, making
    IVF self-contained (ivf_topk's centroid input no longer has to be a
    caller-supplied seed set).

    Scale shape per iteration (the 100 TB story):
    - assignment reuses ivf_assign — centroids broadcast, max_by partial
      aggregate, the corpus never shuffles more than its n rows;
    - the mean update is _decimal_means — its shuffle carries
      k×dim×partitions rows, not the corpus;
    - centroid frames are k×dim (tiny) and localCheckpointed each round
      (lineage cut; blocks freed by the ContextCleaner on dereference).

    Determinism: initialization picks the k md5-smallest ids (no
    random()), and the decimal-grid means are partitioning-independent
    — two runs on the same data give identical centroids. Empty cells (possible when k exceeds the number of
    distinct points) simply drop out, returning fewer than k centroids —
    callers get the IVF behavior of "every remaining cell is non-empty".

    Returns (``id_col`` = centroid id 0..k-1, ``vec_col`` = float array).
    """
    pts = df.select(F.col(id_col).alias("__pid"), F.col(vec_col).alias("__pv"))
    # deterministic seeding: k md5-smallest ids, re-keyed 0..k-1.
    # ``dedup_seeds`` picks among DISTINCT vectors (min id per value) so
    # duplicate-heavy inputs — PQ subspace slices especially — can't
    # seed two cells with the same point and silently collapse to < k
    # clusters. Off by default: the s57 oracle pins the original seeds.
    seed_pool = pts
    if dedup_seeds:
        seed_pool = (
            pts.groupBy("__pv").agg(F.min("__pid").alias("__pid"))
            .select("__pid", "__pv")
        )
    seeds = (
        seed_pool.withColumn("__h", F.md5(F.col("__pid").cast("string")))
        .orderBy("__h", "__pid")
        .limit(k)
    )
    centroids = seeds.select(
        (F.row_number().over(Window.orderBy("__h", "__pid")) - 1)
        .cast("long")
        .alias(id_col),
        F.col("__pv").alias(vec_col),
    ).localCheckpoint(eager=True)

    for _ in range(max_iter):
        assigned = ivf_assign(
            pts.select(F.col("__pid").alias(id_col), F.col("__pv").alias(vec_col)),
            centroids,
            id_col,
            vec_col,
            metric=metric,
        )
        centroids = (
            _decimal_means(assigned, ["cell"], vec_col, vec_col)
            .select(F.col("cell").alias(id_col), vec_col)
            .localCheckpoint(eager=True)
        )
    return centroids


# --------------------------------------------------------------------------
# Product quantization (PQ) — the vector-compression half of the
# FAISS-style IVF+PQ stack (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): split each vector into m
# contiguous subspaces, learn k codewords per subspace, store each
# vector as m small codes (m·log2(k) bits instead of dim·32). Search
# uses ADC (asymmetric distance computation): the query stays exact and
# distances are summed from a per-query m×k lookup table.
# --------------------------------------------------------------------------


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer vector dim from empty {vec_col!r}")
    return int(row["d"])


def _l2sq(a, b):
    """Squared L2 distance between two float arrays (zip_with fold —
    codegen'd, no Python)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_geometry(codebooks: DataFrame) -> tuple[int, int]:
    """(m subspaces, d components per subspace) read from the codebook
    frame itself — the single source of truth every PQ consumer
    validates against."""
    row = codebooks.agg(
        F.countDistinct("subspace").alias("m"), F.max(F.size("codeword")).alias("d")
    ).first()
    return int(row["m"]), int(row["d"])


def _check_pq_dims(df: DataFrame, vec_col: str, m: int, d: int) -> None:
    """Fail loudly on geometry mismatch: slicing a dim≠m·d vector would
    otherwise zip_with null-padded slices against codewords and produce
    silently wrong (null/partial) ADC sums."""
    dim = _infer_dim(df, vec_col)
    if dim != m * d:
        raise ValueError(
            f"vector dim {dim} does not match codebook geometry "
            f"m={m} × d={d} (= {m * d})"
        )


def _subspace_slices(
    df: DataFrame, keep: dict[str, str], vec_col: str, m: int, d: int, out: str
) -> DataFrame:
    """(*keep, subspace int, out): one row per contiguous d-component
    slice j < m of ``vec_col`` — the one subspace split of PQ training,
    encoding and query LUTs. ``keep`` maps output names to input
    columns."""
    return df.select(
        *[F.col(src).alias(name) for name, src in keep.items()],
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(F.col(vec_col), j * F.lit(d) + 1, d),
            )
        ).alias("subspace", out),
    ).select(*keep, F.col("subspace").cast("int").alias("subspace"), out)


def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    max_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Learn PQ codebooks: per contiguous subspace j (dim/m components),
    k codewords via ONE subspace-keyed Lloyd's loop — the m trainings
    are independent, so they share each pass instead of running m
    sequential k-means (m× fewer Spark jobs; same per-pass scale shape
    as kmeans_centroids: broadcast-joined L2 assignment collapsed by a
    max_by partial agg, posexplode partial-agg decimal means, lineage
    cut per round). Returns (subspace int, code long, codeword
    array<float>).

    Determinism matches kmeans_centroids(dedup_seeds=True): per
    subspace, seeds are the k md5-smallest ids among DISTINCT slice
    values (duplicate-heavy slices cannot seed two cells with one
    point), and means accumulate on the decimal grid. Empty cells drop
    out, returning fewer than k codewords for that subspace."""
    dim = _infer_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d = dim // m
    slices = _subspace_slices(df, {"__pid": id_col}, vec_col, m, d, "__sv")

    pool = slices.groupBy("subspace", "__sv").agg(F.min("__pid").alias("__pid"))
    sw = Window.partitionBy("subspace").orderBy(
        F.md5(F.col("__pid").cast("string")), "__pid"
    )
    centroids = (
        pool.withColumn("__rn", F.row_number().over(sw))
        .filter(F.col("__rn") <= k)
        .select(
            "subspace",
            (F.col("__rn") - 1).cast("long").alias("code"),
            F.col("__sv").alias("codeword"),
        )
        .localCheckpoint(eager=True)
    )
    order = F.struct((-F.col("__d2")).alias("s"), (-F.col("code")).alias("nc"))
    for _ in range(max_iter):
        scored = slices.join(F.broadcast(centroids), on="subspace").select(
            "__pid", "subspace", "code", "__sv",
            _l2sq(F.col("__sv"), F.col("codeword")).alias("__d2"),
        )
        assigned = scored.groupBy("__pid", "subspace").agg(
            F.max_by(F.col("code"), order).alias("code"),
            F.max_by(F.col("__sv"), order).alias("__sv"),
        )
        centroids = _decimal_means(
            assigned, ["subspace", "code"], "__sv", "codeword"
        ).localCheckpoint(eager=True)
    return centroids


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    geometry: tuple[int, int] | None = None,
) -> DataFrame:
    """Encode every vector as its per-subspace nearest codeword (min
    squared L2, ties → min code): returns (id, codes array<long> of
    length m). Codebooks broadcast (m·k rows, tiny); the nearest-code
    pick is a max_by partial aggregate per (vector, subspace) — the
    corpus shuffles once on id to assemble the code array, never more.
    Geometry (m, d) is read from the codebooks and validated against
    the input's dim — mismatches raise instead of silently truncating
    (callers that already computed it pass ``geometry`` to skip the
    duplicate codebook aggregate + dim probe jobs)."""
    m, d = geometry if geometry is not None else _pq_geometry(codebooks)
    _check_pq_dims(df, vec_col, m, d)
    sub = _subspace_slices(df, {id_col: id_col}, vec_col, m, d, "__sv")
    order = F.struct((-F.col("__d2")).alias("nd"), (-F.col("code")).alias("nc"))
    scored = sub.join(F.broadcast(codebooks), on="subspace").select(
        id_col, "subspace", "code", _l2sq(F.col("__sv"), F.col("codeword")).alias("__d2")
    )
    best = scored.groupBy(id_col, "subspace").agg(
        F.max_by(F.col("code"), order).alias("code")
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def _pq_query_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    m: int,
    d: int,
    id_col: str,
    vec_col: str,
    carry: tuple = (),
) -> DataFrame:
    """Per-query ADC lookup table: (query_id, [carry...], subspace, code,
    __d2) — Q·m·k rows, built by one broadcast join against the
    codebooks. Shared by the flat and IVF-composed search paths."""
    qsub = _subspace_slices(
        queries, {"query_id": id_col, **{c: c for c in carry}}, vec_col, m, d, "__qv"
    )
    return qsub.join(F.broadcast(codebooks), on="subspace").select(
        "query_id", *carry, "subspace", "code",
        _l2sq(F.col("__qv"), F.col("codeword")).alias("__d2"),
    )


def _adc_rank(coded: DataFrame, lut: DataFrame, id_col: str, carry: tuple, k: int) -> DataFrame:
    """Shared ADC body: explode the coded corpus (id, [carry...], codes)
    to one row per subspace code, broadcast the LUT against it on
    ([carry...], subspace, code), sum per (query, neighbor) —
    partial-aggregated map-side, so the coded corpus never shuffles
    before the distance sum — then the per-query top-k. One definition
    serves pq_topk_adc and ivfpq_topk, so a fix applies to both
    paths."""
    codes = coded.select(
        F.col(id_col).alias("neighbor_id"),
        *carry,
        F.posexplode("codes").alias("subspace", "code"),
    ).select(
        "neighbor_id", *carry, F.col("subspace").cast("int").alias("subspace"), "code"
    )
    dists = (
        codes.join(F.broadcast(lut), on=[*carry, "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__d2").alias("adc_dist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _rank_topk(dists, "adc_dist", k)


def pq_topk_adc(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC distance: the query stays exact,
    the corpus is its PQ codes, and dist²(q, x) ≈ Σ_j ||q_j − c_{j,
    code_j(x)}||². Returns (query_id, neighbor_id, adc_dist, rank),
    ascending distance. Geometry is validated against the codebooks."""
    m, d = _pq_geometry(codebooks)
    _check_pq_dims(queries, vec_col, m, d)
    lut = _pq_query_lut(queries, codebooks, m, d, id_col, vec_col)
    return _adc_rank(corpus_codes, lut, id_col, (), k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Composed IVF+PQ search — the billion-vector architecture (FAISS
    IVFADC): the coarse quantizer (IVF cells) prunes the corpus to the
    query's cell, and within the cell distances come from PQ codes via
    the shared ADC body. Returns (query_id, neighbor_id, adc_dist,
    rank) ascending.

    Scale shape: cell assignment is the broadcast max_by pass
    (ivf_assign); codes live with their cell; the per-query LUT (m×k
    rows) broadcasts against only the probed cells' codes. Corpus cost
    per query drops from n ADC sums to n/C — and the codes the scan
    touches are m bytes per vector, not dim·4. Exactness knobs: more
    cells (C) prunes harder, more codewords (k) quantizes finer, and
    ``nprobe`` widens the search to the query's p nearest cells
    (nprobe=1 is the classic single-cell probe, bit-identical to the
    prior behavior)."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    m, d = _pq_geometry(codebooks)
    _check_pq_dims(queries, vec_col, m, d)
    corpus_cells = ivf_assign(corpus, centroids, id_col, vec_col, metric="l2")
    # pq_encode validates the corpus dim itself with the shared geometry
    codes = pq_encode(corpus, codebooks, id_col, vec_col, geometry=(m, d))
    coded_cells = corpus_cells.select(id_col, "cell").join(codes, on=id_col)
    query_cells = _ivf_assign_multi(
        queries, centroids, nprobe, id_col, vec_col, metric="l2"
    )
    lut = _pq_query_lut(query_cells, codebooks, m, d, id_col, vec_col, carry=("cell",))
    return _adc_rank(coded_cells, lut, id_col, ("cell",), k)


def jl_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss ±1 sign projection (Achlioptas 2001): a
    deterministic random-sign matrix drops ``in_dim`` to ``out_dim``
    while approximately preserving angles, so downstream scoring runs on
    4× (64→16) narrower vectors. The sign matrix derives from md5 of
    "{tag}{i}_{j}" — engine-neutral (any SQL engine reproduces it), and
    embedded as a PLAN LITERAL: each output dim is one codegen'd
    zip_with+fold, no UDF, no shuffle, no driver state. At 100 TB the
    projection is a map-only pass whose cost is out_dim folds per row;
    the matrix (out_dim × in_dim floats) lives in the plan, never on
    the wire per-row.
    """
    import hashlib

    signs = [
        [
            1.0
            if int(hashlib.md5(f"{tag}{i}_{j}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for j in range(in_dim)
        ]
        for i in range(out_dim)
    ]
    rows_lit = [F.array(*[F.lit(s) for s in row]) for row in signs]
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(x, rows_lit[i], lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for i in range(out_dim)
        ]
    )
    return df.select(F.col(id_col), proj.alias("proj"))


# --------------------------------------------------------------------------
# Exact-grid tier: scaled-integer k-means / IVF / PQ-ADC.
#
# The float operators above (kmeans_centroids, ivf_topk, pq_*) are the
# production path; their iterative float means make bit-exact cross-
# engine oracles impractical. This tier runs the SAME algorithms on an
# integer grid (qv = floor(val * scale) as BIGINT), where every step —
# L2² distances, argmin assignment, truncated-division mean updates —
# is exact integer arithmetic, hence order-independent and bit-identical
# in any engine. That turns the whole Lloyd's fixpoint + search into
# something a SQL oracle can replay verbatim as unrolled CTEs (the g48
# pagerank recipe applied to vector search; VERDICT r5 "Next round" #3).
#
# Cross-engine contract (each piece verified against DuckDB):
# - floor(identical IEEE double) == floor(identical IEEE double);
# - Spark `div` == DuckDB `//` (both truncate toward zero);
# - ties broken by min cell id / min neighbor id everywhere.
#
# Scale shape matches the float tier: centroids broadcast, assignment is
# a partial-aggregated groupBy (the corpus shuffles n×m rows, collapsed
# map-side), candidate generation is an equi-join — never all-pairs.
# --------------------------------------------------------------------------

GRID_SCALE = 10**6
# single-subspace sentinel: dim div _WHOLE_VEC == 0 for any real dim,
# so the PQ machinery degenerates to plain (one-codebook) k-means/IVF
_WHOLE_VEC = 1 << 20


def quantize_dims(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = GRID_SCALE,
) -> DataFrame:
    """(vec_id, dim, qv): qv = floor(val·scale) as BIGINT. The one float
    touchpoint of the exact tier — floor of an identical IEEE double is
    identical in every engine (no round-half ambiguity)."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(vec_col).alias("dim", "val"),
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("val").cast("double") * F.lit(scale)).alias("qv"),
    )


def quantize_arr(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = GRID_SCALE,
    out: str = "qarr",
) -> DataFrame:
    """Array form of quantize_dims, for zip_with re-ranking."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            vec_col, lambda v: F.floor(v.cast("double") * F.lit(scale))
        ).alias(out),
    )


def _l2sq_arr(a, b):
    """Exact integer squared-L2 between two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def grid_seeds(df: DataFrame, k: int, id_col: str = "vec_id") -> DataFrame:
    """k md5-smallest ids → cells 0..k-1 (the kmeans_centroids seeding
    rule, restated so a SQL oracle can replay it verbatim). orderBy+limit
    is a distributed TakeOrdered — no full sort at scale; the window
    ranks only the k survivors."""
    w = Window.orderBy("__h", "vec_id")
    return (
        df.select(F.col(id_col).alias("vec_id"))
        .distinct()
        .withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("long").alias("cell"), "vec_id"
        )
    )


def _grid_sub_dists(qdims: DataFrame, cent: DataFrame, subdims: int) -> DataFrame:
    """(vec_id, sub, cell, d): exact integer L2² between each vector's
    subspace slice (sub = dim div subdims) and every broadcast
    centroid's — grid_assign's scores and pq_adc_topk_exact's ADC LUT."""
    return (
        qdims.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", F.expr(f"dim div {subdims}").alias("sub"), "cell")
        .agg(
            F.sum((F.col("qv") - F.col("cv")) * (F.col("qv") - F.col("cv"))).alias("d")
        )
    )


def grid_assign(qdims: DataFrame, cent: DataFrame, subdims: int) -> DataFrame:
    """Per-subspace nearest-centroid assignment: argmin over cells of the
    exact integer L2², ties → min cell. Returns (vec_id, sub, cell).
    Centroids broadcast; the max_by-style partial aggregate collapses the
    n×cells scored rows map-side, so the exchange carries n×m rows."""
    return _grid_sub_dists(qdims, cent, subdims).groupBy("vec_id", "sub").agg(
        F.min_by("cell", F.struct("d", "cell")).alias("cell")
    )


def _grid_lloyd(qdims: DataFrame, seeds: DataFrame, iters: int, subdims: int, assign) -> DataFrame:
    """The grid Lloyd's loop over a (cell, dim, cv) centroid table:
    seeds' vectors start it, then each round runs ``assign(cent)`` ->
    (vec_id, sub, cell) and the truncated integer-division mean update
    (sum div count — Spark `div` == DuckDB `//`) over the members' dims
    in that subspace. A cell that loses all members in some subspace
    drops that subspace's rows — both engines inner-join it away
    identically."""
    cent = (
        seeds.join(qdims, "vec_id")
        .select("cell", "dim", F.col("qv").alias("cv"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        cent = (
            assign(cent)
            .join(qdims, "vec_id")
            .filter(F.expr(f"dim div {subdims}") == F.col("sub"))
            .groupBy("cell", "dim")
            .agg(F.expr("sum(qv) div count(1)").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cent


def grid_kmeans_codebook(
    qdims: DataFrame, seeds: DataFrame, iters: int, subdims: int
) -> DataFrame:
    """Lloyd's loop on the integer grid with the exploded-row
    grid_assign — the reference the SQL oracles replay step for step.
    With subdims < dim this learns PER-SUBSPACE codebooks sharing cell
    ids (the PQ layout); with _WHOLE_VEC it is plain k-means. Returns
    the centroid dim table (cell, dim, cv)."""
    return _grid_lloyd(
        qdims, seeds, iters, subdims, lambda cent: grid_assign(qdims, cent, subdims)
    )


def ivf_kmeans_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k_clusters: int = 16,
    iters: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = GRID_SCALE,
) -> DataFrame:
    """IVF with learned centroids, exact tier: grid k-means (fixed
    iteration count), single-cell probe, exact integer-L2 re-rank.
    Returns (query_id, neighbor_id, l2sq, rank) — every value a BIGINT
    or INT, bit-identical across engines."""
    seeds = grid_seeds(corpus, k_clusters, id_col)
    # broadcast-matrix Lloyd's + assignment (bit-identical to the
    # exploded-row grid path, equivalence-tested) — the n·dim·k
    # exchange is the piece that stops scaling once n or k grows
    carr = quantize_arr(corpus, id_col, vec_col, scale, out="qarr")
    qarr = quantize_arr(queries, id_col, vec_col, scale, out="qarr")
    corpus_cells, cells_arr, cmat = grid_kmeans_cells_fast(carr, seeds, iters)
    query_cells = _assign_from_matrix(qarr, cells_arr, cmat)
    q = qarr.join(query_cells, "vec_id").select(
        F.col("vec_id").alias("query_id"), F.col("qarr").alias("__qq"), "cell"
    )
    cand = (
        carr.join(corpus_cells, "vec_id")
        .select(F.col("vec_id").alias("neighbor_id"), F.col("qarr").alias("__cq"), "cell")
        .join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _l2sq_arr(F.col("__qq"), F.col("__cq")).alias("l2sq"),
        )
    )
    return _rank_topk(cand, "l2sq", k)


def pq_adc_topk_exact(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codewords: int = 32,
    iters: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = GRID_SCALE,
) -> DataFrame:
    """PQ-ADC, exact tier: per-subspace grid codebooks (one Lloyd's loop
    with sub = dim div subdims — cell ids shared across subspaces),
    corpus encoded as its final assignment, queries answered by the
    classic ADC LUT (per-query per-cell partial distances, summed along
    the neighbor's m codes). All integer; the LUT join is an equi-join
    on (sub, cell). Returns (query_id, neighbor_id, adc, rank)."""
    dim = _infer_dim(corpus, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdims = dim // m
    cd = quantize_dims(corpus, id_col, vec_col, scale)
    qd = quantize_dims(queries, id_col, vec_col, scale)
    seeds = grid_seeds(corpus, k_codewords, id_col)
    # broadcast-matrix per-subspace Lloyd's + encoding: bit-identical to
    # grid_kmeans_codebook + grid_assign (equivalence-tested), without
    # the n·dim·k assignment exchange (24.9 s → measured post-fix in
    # SCALE.md) — the corpus-side work is one mapInPandas pass emitting
    # the n·m code rows directly
    carr = quantize_arr(corpus, id_col, vec_col, scale, out="qarr")
    cb = grid_kmeans_codebook_fast(cd, carr, seeds, iters, subdims)
    codes = grid_assign_subspaces_fast(carr, cb, subdims)  # (vec_id, sub, cell)
    lut = _grid_sub_dists(qd, cb, subdims).select(
        F.col("vec_id").alias("query_id"), "sub", "cell", F.col("d").alias("part")
    )
    adc = (
        codes.select(F.col("vec_id").alias("neighbor_id"), "sub", "cell")
        .join(F.broadcast(lut), ["sub", "cell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("part").alias("adc"))
    )
    return _rank_topk(adc, "adc", k)


def _centroid_matrix(cent: DataFrame):
    """Collect a (cell, dim, cv) centroid table — the grid_kmeans_codebook
    output — into the driver-matrix form grid_kmeans_cells_fast returns:
    (cells ascending int64[k], k×dim int64 matrix)."""
    import numpy as np

    rows = (
        cent.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cv"))).alias("dv"))
        .select("cell", F.transform("dv", lambda s: s["cv"]).alias("vec"))
        .orderBy("cell")
        .collect()
    )
    cells_arr = np.array([r.cell for r in rows], dtype=np.int64)
    cmat = np.array([r.vec for r in rows], dtype=np.int64)  # k×dim
    return cells_arr, cmat


# Row bound for grid_kmeans_cells_fast's local tier: one limit-probe job
# fetches at most this many (vec_id, qarr) rows (~0.5 KB each at dim 64 —
# ≤ 16 MB on the driver, far under any broadcast we already build).
KMEANS_LOCAL_MAX = 32768


def _argmin_kernel(cmat):
    """The one nearest-centroid argmin over a driver-side k×dim int64
    matrix; returns fn(q: b×dim int64) -> positions into cmat's rows.
    ‖q−c‖² = ‖q‖² + ‖c‖² − 2·q·cᵀ, exact in int64 (|qv| ≤ 1e6, dim 64
    ⇒ every term < 2⁶³).

    BLAS tier: numpy's int64 matmul has NO BLAS kernel (generic loops);
    at production k∝n it became the dominant super-linear term (d58
    scaled-k measured 4.8× for 3× at sf9, SCALE_PROBE_third_decade).
    float64 dgemm computes the SAME integers bit-exactly as long as
    every intermediate stays below 2^53: terms are bounded by
    dim·M² (M = max |component| over batch and centroids), and
    d = q·q + c·c − 2·q·c combines three such terms, so the guard is
    4·dim·M² < 2^53. Integer-valued float64 sums are exact regardless
    of accumulation order, so blocked/FMA dgemm cannot change argmin.
    Batches that exceed the bound fall back to the int64 loops.

    numpy argmin returns the FIRST minimum and centroid rows are sorted
    by cell id, so ties break to the smallest cell — bit-identical to
    grid_assign's min_by struct("d","cell")."""
    import numpy as np

    c_sq = (cmat * cmat).sum(axis=1)  # k
    c_f = cmat.astype(np.float64)
    c_sqf = c_sq.astype(np.float64)
    m_c = int(np.abs(cmat).max()) if cmat.size else 0

    def pos(q):
        m = max(int(np.abs(q).max()) if q.size else 0, m_c)
        if 4 * q.shape[1] * m * m < 2**53:
            qf = q.astype(np.float64)
            d = (qf * qf).sum(axis=1)[:, None] + c_sqf[None, :] - 2.0 * (qf @ c_f.T)
        else:  # pragma: no cover — beyond any GRID_SCALE geometry
            d = (q * q).sum(axis=1)[:, None] + c_sq[None, :] - 2 * (q @ cmat.T)
        return d.argmin(axis=1)

    return pos


def _assign_from_matrix(qarr: DataFrame, cells_arr, cmat) -> DataFrame:
    """(vec_id, cell) nearest-centroid assignment of a (vec_id, qarr)
    frame against a driver matrix: n rows stay n rows, zero shuffle,
    zero row-at-a-time Python (Arrow-batched mapInPandas closing over
    the k×dim matrix — driver-scale METADATA, k=100k × dim=64 ≈ 51 MB,
    what Spark MLlib's KMeans broadcasts every iteration)."""
    import numpy as np
    import pandas as pd

    pos_fn = _argmin_kernel(cmat)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)  # b×dim
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cells_arr[pos_fn(q)]}
            )

    return qarr.select("vec_id", "qarr").mapInPandas(
        assign, schema="vec_id bigint, cell bigint"
    )


def _mean_update(sums, counts, ids):
    """The grid mean update on driver arrays: cells with no members drop
    (like the SQL groupBy), the rest move to sum div count, truncated
    toward zero like SQL `div` (numpy's // floors, so it runs on |sum|
    and takes the sign back). Returns (next k′×dim matrix, surviving
    ids)."""
    import numpy as np

    nz = counts > 0
    s, c = sums[nz], counts[nz][:, None]
    return np.sign(s) * (np.abs(s) // c), ids[nz]


def _lloyd(q, cmat, ids, iters):
    """``iters`` grid Lloyd's rounds over an in-memory b×dim int64 batch:
    first-min argmin assignment, int64 sums and counts (exact and
    order-free), then _mean_update. ``ids`` labels cmat's rows and is
    filtered with them. Returns (final matrix, surviving ids)."""
    import numpy as np

    for _ in range(iters):
        p = _argmin_kernel(cmat)(q)
        sums = np.zeros_like(cmat)
        np.add.at(sums, p, q)
        cmat, ids = _mean_update(sums, np.bincount(p, minlength=len(ids)), ids)
    return cmat, ids


def grid_kmeans_cells_fast(qarr: DataFrame, seeds: DataFrame, iters: int):
    """Whole-vector Lloyd's with driver-resident centroids — the MLlib
    KMeans execution shape, bit-identical to grid_kmeans_codebook +
    grid_assign at _WHOLE_VEC (pinned by test_grid_fast_assignment_*).

    qarr: (vec_id, qarr array<long>) from quantize_arr(out="qarr").
    Returns ``(cells, cells_arr, cmat)``: the final assignment
    (vec_id, cell), and the final codebook as driver metadata —
    ascending int64 cell ids and the k′×dim int64 centroid matrix
    (k′ ≤ k: empty cells drop). An empty corpus returns an empty frame,
    an empty cells_arr and a 0-row cmat.

    Two tiers with the same arithmetic (_lloyd / _mean_update /
    _argmin_kernel), chosen by corpus size:
    - local (≤ KMEANS_LOCAL_MAX rows): each Lloyd's iteration is
      inherently one Spark job (the next matrix depends on the last),
      so a small corpus would pay iters+1 jobs of pure scheduling
      overhead (measured 1.3 s of d58's 1.26 s bench budget at sf0.1).
      One bounded limit-probe collect fetches the whole input and the
      loop runs driver-side; above the bound the probe costs one
      truncated scan;
    - distributed: per iteration ONE pass fuses assignment with the
      mean update's partial aggregation — each task argmin-assigns its
      Arrow batches against the broadcast matrix and emits
      per-partition (cell, dim, sum, count) partials (≤ k·dim rows per
      partition, never n·dim), which one tiny shuffle + collect reduces
      for _mean_update. The exploded-row loop it replaced ran ~6
      jobs/iteration and an n·dim shuffle.
    Equivalence of the tiers is pinned by
    test_grid_fast_local_matches_distributed."""
    import numpy as np
    import pandas as pd

    # seed matrix straight from the array form: k rows through a
    # broadcast join — joining via qdims would drag the n·dim explode
    # into the plan just to read back k vectors (measured 1.4 s of d58's
    # sf0.1 budget; values are identical, qarr IS qdims in dim order).
    # seeds is k rows but derived through a window+limit, so force the
    # broadcast — a stats misestimate here would shuffle the whole corpus
    # by vec_id just to fetch k seed vectors
    seed_rows = (
        qarr.select("vec_id", "qarr")
        .join(F.broadcast(seeds), "vec_id")
        .select("cell", "qarr")
        .orderBy("cell")
        .collect()
    )
    spark = qarr.sparkSession
    if not seed_rows:
        return (
            spark.createDataFrame([], "vec_id bigint, cell bigint"),
            np.empty(0, dtype=np.int64),
            np.empty((0, 0), dtype=np.int64),
        )
    cells_arr = np.array([r.cell for r in seed_rows], dtype=np.int64)
    cmat = np.array([r.qarr for r in seed_rows], dtype=np.int64)

    probe = qarr.select("vec_id", "qarr").limit(KMEANS_LOCAL_MAX + 1).collect()
    if len(probe) <= KMEANS_LOCAL_MAX:
        ids = np.array([r.vec_id for r in probe], dtype=np.int64)
        q = np.array([r.qarr for r in probe], dtype=np.int64)
        cmat, cells_arr = _lloyd(q, cmat, cells_arr, iters)
        cells = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": ids, "cell": cells_arr[_argmin_kernel(cmat)(q)]}
            ),
            schema="vec_id bigint, cell bigint",
        )
        return cells, cells_arr, cmat

    for _ in range(iters):
        k, dim = cmat.shape
        pos_fn = _argmin_kernel(cmat)

        def partials(batches, _k=k, _dim=dim, _pos=pos_fn):
            import numpy as _np
            import pandas as _pd

            sums = _np.zeros((_k, _dim), dtype=_np.int64)
            counts = _np.zeros(_k, dtype=_np.int64)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                q = _np.stack(pdf["qarr"].to_numpy()).astype(_np.int64)
                p = _pos(q)
                _np.add.at(sums, p, q)
                counts += _np.bincount(p, minlength=_k)
            if not seen:
                return
            nz = _np.nonzero(counts)[0]
            yield _pd.DataFrame(
                {
                    "pos": _np.repeat(nz, _dim),
                    "dim": _np.tile(_np.arange(_dim, dtype=_np.int64), len(nz)),
                    "s": sums[nz].ravel(),
                    "c": _np.repeat(counts[nz], _dim),
                }
            )

        tot = (
            qarr.select("qarr")
            .mapInPandas(partials, schema="pos int, dim int, s bigint, c bigint")
            .groupBy("pos", "dim")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        )
        s_arr = np.zeros((k, dim), dtype=np.int64)
        c_arr = np.zeros(k, dtype=np.int64)
        for r in tot:
            s_arr[r.pos, r.dim] = r.s
            c_arr[r.pos] = r.c
        cmat, cells_arr = _mean_update(s_arr, c_arr, cells_arr)
    return _assign_from_matrix(qarr, cells_arr, cmat), cells_arr, cmat


def grid_assign_subspaces_fast(
    qarr: DataFrame, cent: DataFrame, subdims: int
) -> DataFrame:
    """Per-subspace broadcast-matrix assignment: one driver centroid
    matrix per subspace, each batch running m _argmin_kernel passes.
    Bit-identical to grid_assign(qdims, cent, subdims): per (cell, sub)
    the centroid block is either complete or absent (assignment is
    per-subspace, so a surviving cell has means for every dim of that
    subspace), and cells are sorted ascending per sub so the first-min
    argmin reproduces min_by's (d, cell) tie-break. Output rows are n·m
    — the CODES, not an intermediate — versus grid_assign's n·dim·k
    exchange (41M rows at sf1 for s59's k=32). Returns
    (vec_id, sub, cell)."""
    from collections import defaultdict

    import numpy as np
    import pandas as pd

    rows = (
        cent.groupBy("cell", F.expr(f"dim div {subdims}").alias("sub"))
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cv"))).alias("dv"))
        .select("cell", "sub", F.transform("dv", lambda s: s["cv"]).alias("vec"))
        .orderBy("sub", "cell")
        .collect()
    )
    groups: dict[int, list] = defaultdict(list)
    for r in rows:
        groups[int(r.sub)].append(r)
    kernels = {
        s: (
            np.array([r.cell for r in rs], dtype=np.int64),
            _argmin_kernel(np.array([r.vec for r in rs], dtype=np.int64)),
        )
        for s, rs in groups.items()
    }

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)  # b×dim
            vids = pdf["vec_id"].to_numpy()
            out_v, out_s, out_c = [], [], []
            for s, (cells, pos) in kernels.items():
                out_v.append(vids)
                out_s.append(np.full(len(vids), s, dtype=np.int64))
                out_c.append(cells[pos(q[:, s * subdims : (s + 1) * subdims])])
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_v),
                    "sub": np.concatenate(out_s),
                    "cell": np.concatenate(out_c),
                }
            )

    return qarr.select("vec_id", "qarr").mapInPandas(
        assign, schema="vec_id bigint, sub bigint, cell bigint"
    )


def grid_kmeans_codebook_fast(
    qdims: DataFrame, qarr: DataFrame, seeds: DataFrame, iters: int, subdims: int
) -> DataFrame:
    """grid_kmeans_codebook with the broadcast-matrix assignment
    (grid_assign_subspaces_fast) inside the Lloyd's loop — the n·dim·k
    exchange was s59's sf1 bottleneck: 24.9 s, dominated by two
    assignment rounds. Same mean update, same (cell, dim, cv) table out;
    pinned bit-identical by test_grid_subspace_fast_matches_slow."""
    return _grid_lloyd(
        qdims, seeds, iters, subdims,
        lambda cent: grid_assign_subspaces_fast(qarr, cent, subdims),
    )
