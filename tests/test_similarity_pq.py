"""Product quantization (PQ/ADC) unit tests: exactness when vectors ARE
codewords, determinism, recall floor on the real corpus, and input
validation. The corpus embeddings are near-random (true-distance spread
std/mean ~0.13), so recall bounds mirror the LSH tests' conservative
floor rather than a production 0.9 — the point pinned here is the
MACHINERY (slicing, code assembly, LUT join, distance sum), which the
codeword-exact test checks bit-for-bit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pymongraph_spark.operators.similarity import (
    brute_force_topk,
    pq_codebooks,
    pq_encode,
    pq_topk_adc,
)


def _clustered(spark):
    # 8 vectors over 2 subspaces of dim 2; each subspace has two obvious
    # clusters at ±1 — Lloyd's converges to the cluster centers, so every
    # vector is (nearly) a codeword combination
    rows = []
    vid = 0
    for a in (-1.0, 1.0):
        for b in (-1.0, 1.0):
            for _ in range(2):
                rows.append((vid, [a, a, b, b]))
                vid += 1
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")


def test_pq_encode_exact_on_codeword_vectors(spark):
    df = _clustered(spark)
    cb = pq_codebooks(df, m=2, k=2, max_iter=4)
    assert cb.count() == 4  # 2 subspaces × 2 codes
    codes = pq_encode(df, cb)
    got = {r["vec_id"]: tuple(r["codes"]) for r in codes.collect()}
    assert len(got) == 8
    # duplicate vectors share codes; the two subspace halves are coded
    # independently (4 distinct code tuples across the 2×2 grid)
    assert len(set(got.values())) == 4
    # ADC is EXACT here (every vector is a codeword): top-1 neighbor of
    # each query is its duplicate twin at distance 0
    topk = pq_topk_adc(codes, df, cb, k=1).collect()
    for r in topk:
        assert r["adc_dist"] == pytest.approx(0.0, abs=1e-9)
        assert r["neighbor_id"] // 2 == r["query_id"] // 2  # its twin


def test_pq_codebooks_deterministic(spark):
    df = _clustered(spark)
    a = sorted(map(tuple, pq_codebooks(df, m=2, k=2, max_iter=3).collect()))
    b = sorted(map(tuple, pq_codebooks(df, m=2, k=2, max_iter=3).collect()))
    assert a == b


def test_pq_rejects_indivisible_dim(spark):
    df = _clustered(spark)  # dim 4
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(df, m=3)


def test_pq_recall_floor_on_corpus(spark, sf_small):
    from pymongraph_spark.catalog import load_tables

    from pymongraph_spark.functions.vectors import l2_normalize, norm

    emb = load_tables(spark, sf_small)["embeddings"]
    # L2-normalize (guarded helper, staged norm) so ADC's L2 ranking
    # matches the cosine baseline
    nemb = (
        emb.filter(F.size("embedding") > 0)
        .select("vec_id", "embedding", norm(F.col("embedding")).alias("__n"))
        .select("vec_id", l2_normalize(F.col("embedding"), F.col("__n")).alias("embedding"))
        .localCheckpoint(eager=True)
    )
    cb = pq_codebooks(nemb, m=8, k=32, max_iter=3)
    codes = pq_encode(nemb, cb)
    q = nemb.filter(F.col("vec_id") < 8)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk_adc(codes, q, cb, k=5).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.1, f"suspiciously low recall {recall}"


def test_ivfpq_composed_search(spark, sf_small):
    """IVF cell pruning composed with ADC: every result's neighbor must
    share the query's cell, ranks are dense from 1, and the whole
    pipeline is deterministic across runs."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        ivf_assign,
        ivfpq_topk,
        kmeans_centroids,
    )

    emb = load_tables(spark, sf_small)["embeddings"].localCheckpoint(eager=True)
    cents = kmeans_centroids(emb, k=4, max_iter=2, metric="l2", dedup_seeds=True)
    cb = pq_codebooks(emb, m=4, k=8, max_iter=2)
    q = emb.filter(F.col("vec_id") < 4)
    res = ivfpq_topk(emb, q, cents, cb, k=3).collect()
    assert res, "no results"
    cells = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents, metric="l2").collect()}
    by_q = {}
    for r in res:
        assert cells[r["neighbor_id"]] == cells[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    again = ivfpq_topk(emb, q, cents, cb, k=3).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, again))

    # multi-probe: nprobe=1 is bit-identical to the default; probing
    # EVERY cell makes the candidate set the whole corpus, so the result
    # must equal the unpruned PQ-ADC answer; and coverage is monotone
    single = ivfpq_topk(emb, q, cents, cb, k=3, nprobe=1).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, single))
    n_cells = cents.count()
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, q, cents, cb, k=3, nprobe=n_cells).collect()
    }
    codes = pq_encode(emb, cb)
    unpruned = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk_adc(codes, q, cb, k=3).collect()
    }
    assert full == unpruned


def test_pq_geometry_mismatch_raises(spark):
    from pymongraph_spark.operators.similarity import pq_topk_adc

    df = _clustered(spark)  # dim 4
    cb = pq_codebooks(df, m=2, k=2, max_iter=2)
    codes = pq_encode(df, cb)
    wrong = spark.createDataFrame(
        [(99, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0])], "vec_id: long, embedding: array<float>"
    )
    with pytest.raises(ValueError, match="does not match codebook geometry"):
        pq_topk_adc(codes, wrong, cb, k=1)
    with pytest.raises(ValueError, match="does not match codebook geometry"):
        pq_encode(wrong, cb)


def test_s61_jl_rerank_recall_vs_exact(spark):
    # two-stage JL candidate + exact re-rank: on the isotropic corpus
    # (the hardest case for projection) the C=128 candidate budget must
    # recover the majority of the exact top-3 — and stage-2 scores are
    # EXACT, so every returned pair that overlaps s50 carries the same
    # cosine.
    from tests.conftest import SF_SMALL

    from pymongraph_spark.queries import QUERIES

    exact = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in QUERIES["s50_cosine_topk_bruteforce"](spark, SF_SMALL)
        .filter("rank <= 3")
        .collect()
    }
    jl = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in QUERIES["s61_jl_projection_topk"](spark, SF_SMALL).collect()
    }
    hits = set(exact) & set(jl)
    assert len(hits) / len(exact) >= 0.6
    for pair in hits:
        assert exact[pair] == jl[pair]  # stage 2 is exact, bit-for-bit


def test_grid_fast_assignment_matches_slow(spark, sf_small):
    """The broadcast-matrix Lloyd's + assignment (grid_kmeans_cells_fast)
    must be BIT-IDENTICAL to the exploded-row grid_assign +
    grid_kmeans_codebook whole-vector path on the real corpus — same
    integer L2², same (d, cell) tie-break — because d58's oracle
    replays the slow path's arithmetic step for step."""
    import numpy as np

    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        _WHOLE_VEC,
        GRID_SCALE,
        _centroid_matrix,
        grid_assign,
        grid_kmeans_cells_fast,
        grid_kmeans_codebook,
        grid_seeds,
        quantize_arr,
        quantize_dims,
    )

    emb = load_tables(spark, sf_small)["embeddings"]
    qd = quantize_dims(emb, scale=GRID_SCALE)
    qa = quantize_arr(emb, scale=GRID_SCALE, out="qarr")
    seeds = grid_seeds(emb, 16)

    cent_slow = grid_kmeans_codebook(qd, seeds, 2, _WHOLE_VEC)
    slow = {
        (r.vec_id, r.cell)
        for r in grid_assign(qd, cent_slow, _WHOLE_VEC).select("vec_id", "cell").collect()
    }
    cells_fast, cells_arr, cmat = grid_kmeans_cells_fast(qa, seeds, 2)
    fast = {(r.vec_id, r.cell) for r in cells_fast.collect()}
    assert fast == slow
    cells_slow, cmat_slow = _centroid_matrix(cent_slow)
    assert cells_arr.dtype == np.int64 and cmat.dtype == np.int64
    np.testing.assert_array_equal(cells_arr, cells_slow)
    np.testing.assert_array_equal(cmat, cmat_slow)


def test_grid_fast_assignment_matches_slow_high_k(spark, sf_small):
    """Same bit-identity pinned at a k closer to the production regime
    (k=40 over the 500-vector corpus ≈ the occupancy SemDeDup targets):
    exercises tie-breaks and empty-cell drops the k=16 gate config may
    never hit."""
    import numpy as np

    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        _WHOLE_VEC,
        GRID_SCALE,
        _centroid_matrix,
        grid_assign,
        grid_kmeans_cells_fast,
        grid_kmeans_codebook,
        grid_seeds,
        quantize_arr,
        quantize_dims,
    )

    emb = load_tables(spark, sf_small)["embeddings"]
    qd = quantize_dims(emb, scale=GRID_SCALE)
    qa = quantize_arr(emb, scale=GRID_SCALE, out="qarr")
    seeds = grid_seeds(emb, 40)
    cent_slow = grid_kmeans_codebook(qd, seeds, 1, _WHOLE_VEC)
    slow = {
        (r.vec_id, r.cell)
        for r in grid_assign(qd, cent_slow, _WHOLE_VEC)
        .select("vec_id", "cell")
        .collect()
    }
    cells_fast, cells_arr, cmat = grid_kmeans_cells_fast(qa, seeds, 1)
    assert {(r.vec_id, r.cell) for r in cells_fast.collect()} == slow
    cells_slow, cmat_slow = _centroid_matrix(cent_slow)
    np.testing.assert_array_equal(cells_arr, cells_slow)
    np.testing.assert_array_equal(cmat, cmat_slow)


def test_grid_fast_local_matches_distributed(spark, sf_small, monkeypatch):
    """The bounded local Lloyd's tier (KMEANS_LOCAL_MAX, r14) must be
    bit-identical to the distributed mapInPandas loop — cells AND the
    centroid matrix — since gated queries (d58/d62/st92/st96) route
    through whichever tier the corpus size selects."""
    import numpy as np

    import pymongraph_spark.operators.similarity as sim
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        grid_kmeans_cells_fast,
        grid_seeds,
        quantize_arr,
    )

    emb = load_tables(spark, sf_small)["embeddings"]
    qa = quantize_arr(emb, scale=GRID_SCALE, out="qarr")
    seeds = grid_seeds(emb, 16)

    cells_loc, arr_loc, cmat_loc = grid_kmeans_cells_fast(qa, seeds, 2)  # local tier
    monkeypatch.setattr(sim, "KMEANS_LOCAL_MAX", 0)  # force distributed
    cells_dist, arr_dist, cmat_dist = grid_kmeans_cells_fast(qa, seeds, 2)
    assert {(r.vec_id, r.cell) for r in cells_loc.collect()} == {
        (r.vec_id, r.cell) for r in cells_dist.collect()
    }
    np.testing.assert_array_equal(arr_loc, arr_dist)
    np.testing.assert_array_equal(cmat_loc, cmat_dist)


def test_grid_fast_assignment_blas_tier_bit_exact(spark):
    """_assign_from_matrix's float64-dgemm tier (r9: the int64 matmul
    has no BLAS kernel and became d58's super-linear term at k∝n) must
    be bit-identical to int64 arithmetic right up to its 4·dim·M² < 2^53
    guard — including exact distance ties, which must still break to the
    smallest cell id — and magnitudes beyond the guard must route to the
    int64 fallback and stay exact."""
    import numpy as np

    from pymongraph_spark.operators.similarity import _assign_from_matrix

    rng = np.random.default_rng(7)
    dim, n, k = 64, 200, 32

    def check(m_bound: int) -> None:
        q = rng.integers(-m_bound, m_bound, size=(n, dim))
        c = rng.integers(-m_bound, m_bound, size=(k, dim))
        c[9] = c[5]  # exact duplicate centroid → tie must pick cell 5
        qarr = spark.createDataFrame(
            [(i, [int(x) for x in q[i]]) for i in range(n)],
            "vec_id: long, qarr: array<long>",
        )
        cells = np.arange(k, dtype=np.int64)
        got = {
            r.vec_id: r.cell for r in _assign_from_matrix(qarr, cells, c).collect()
        }
        # int64 reference (exact: 4·dim·M² < 2^63 for both bounds below)
        dist = (q * q).sum(1)[:, None] + (c * c).sum(1)[None, :] - 2 * (q @ c.T)
        want = {i: int(dist[i].argmin()) for i in range(n)}
        assert got == want
        assert any(cell == 5 for cell in got.values()) or 5 not in want.values()

    check(5_900_000)  # just under the BLAS guard (4·64·M² < 2^53)
    check(100_000_000)  # beyond it → int64 fallback (still < 2^63-exact)


def test_grid_subspace_fast_matches_slow(spark, sf_small):
    """Per-subspace broadcast-matrix assignment (grid_assign_subspaces_fast
    / grid_kmeans_codebook_fast) must be BIT-IDENTICAL to the exploded-row
    grid path at s59's geometry (m=8 subspaces, k=32 codewords) — s59's
    unrolled SQL oracle replays the slow arithmetic step for step."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        grid_assign,
        grid_assign_subspaces_fast,
        grid_kmeans_codebook,
        grid_kmeans_codebook_fast,
        grid_seeds,
        quantize_arr,
        quantize_dims,
    )

    emb = load_tables(spark, sf_small)["embeddings"]
    qd = quantize_dims(emb, scale=GRID_SCALE)
    qa = quantize_arr(emb, scale=GRID_SCALE, out="qarr")
    seeds = grid_seeds(emb, 32)
    subdims = 8  # 64-dim corpus → m=8 subspaces

    cb_slow = grid_kmeans_codebook(qd, seeds, 2, subdims)
    cb_fast = grid_kmeans_codebook_fast(qd, qa, seeds, 2, subdims)
    assert {(r.cell, r.dim, r.cv) for r in cb_fast.collect()} == {
        (r.cell, r.dim, r.cv) for r in cb_slow.collect()
    }
    slow = {
        (r.vec_id, r.sub, r.cell) for r in grid_assign(qd, cb_slow, subdims).collect()
    }
    fast = {
        (r.vec_id, r.sub, r.cell)
        for r in grid_assign_subspaces_fast(qa, cb_slow, subdims).collect()
    }
    assert fast == slow


def test_grid_kmeans_fast_empty_and_single_corpus(spark):
    """r10 refactor edge case: an empty corpus must yield an empty
    assignment, an empty cell array and a 0-row centroid matrix (a 1-D
    empty numpy matrix crashed the k×dim unpack), and a single vector
    is its own kept cell."""
    from pymongraph_spark.operators.dedup import semdedup, semdedup_hierarchical
    from pymongraph_spark.operators.similarity import (
        grid_kmeans_cells_fast,
        grid_seeds,
        quantize_arr,
    )

    empty = spark.createDataFrame([], "vec_id: long, embedding: array<float>")
    cells, cells_arr, cmat = grid_kmeans_cells_fast(
        quantize_arr(empty), grid_seeds(empty, 4), 2
    )
    assert cells.count() == 0 and cells_arr.shape == (0,) and cmat.shape[0] == 0
    assert semdedup(empty).count() == 0
    assert semdedup_hierarchical(empty).count() == 0
    one = spark.createDataFrame([(7, [1.0] * 8)], "vec_id: long, embedding: array<float>")
    rows = semdedup(one).collect()
    assert len(rows) == 1 and rows[0].removed == 0 and rows[0].dup_of is None
