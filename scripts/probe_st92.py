"""Two-scale probe for streaming embedding near-dup, flat vs
hierarchical codebook (VERDICT r10 items 1+2).

r10's SCALE_PROBE_st91.json measured the fixed-k=16 flat codebook at
11.9x per-trigger cost for a 10x standing corpus — and its at-scale run
emitted 0 pairs (threshold not scale-calibrated), so at-scale pair
emission was never verified. This probe fixes both:

- FIXED-SIZE PROBE BATCH: the corpus is remapped into waves 0-2 (the
  standing index) and the final wave is a fixed count of PLANTED near-dups
  at BOTH scales (one-dim float32 perturbation of corpus vectors), so
  the last trigger isolates "cost of probing a batch of constant size
  against a 1x vs 10x standing index" — the production steady-state
  quantity. r10's probe conflated this with 10x-bigger batches.
- VERIFIED PAIRS: every planted pair's integer L2^2 is re-derived in
  numpy from the same floor-quantization and asserted equal to the
  stream's emitted value at both scales (non-vacuous correctness).
- k SCALES WITH THE CORPUS for the hierarchical variant (st92's
  design): k=16 at 2k vectors -> k=160 at 20k, so cell occupancy stays
  constant (~125) and the last-trigger cost stays ~flat; the fixed-k=16
  flat variant is re-measured for contrast (occupancy 125 -> 1250).

Usage: python scripts/probe_st92.py [small_dir] [big_dir]
Writes SCALE_PROBE_st92.json (hierarchical k∝n) and rewrites
SCALE_PROBE_st91.json (fixed-k flat, now with verified nonzero pairs).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PLANT = 1000
PERTURB = 3.0e-6  # one-dim nudge: quantizes to a few grid units at 1e6 scale


def planted_corpus(spark, sf_dir: str):
    """Load embeddings, remap ids into waves 0-2 (id = 4i + i%3, never
    ≡3 mod 4), and plant exactly N_PLANT near-dup copies with ids
    ≡3 mod 4 — the final wave is the fixed-size probe batch, and every
    planted pair is cross-wave by construction. Returns
    (emb_df, plants={new_id: src_id}, vecs={id: embedding})."""
    import numpy as np

    from pymongraph_spark.catalog import load_tables

    rows = (
        load_tables(spark, sf_dir)["embeddings"]
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    corpus = [(4 * i + i % 3, list(r.embedding)) for i, r in enumerate(rows)]
    base_id = 4 * len(rows) + 3
    plants, new_rows = {}, []
    for i in range(N_PLANT):
        sid, v = corpus[i]
        nid = base_id + 4 * i  # stays ≡ 3 mod 4
        w = list(v)
        w[0] = float(np.float64(w[0]) + PERTURB)
        new_rows.append((nid, w))
        plants[nid] = sid
    emb = spark.createDataFrame(
        corpus + new_rows, "vec_id bigint, embedding array<float>"
    )
    return emb, plants, dict(corpus)


def expected_l2sq(src_vec, scale):
    """Re-derive the planted pair's integer l2sq from the same float32
    storage + floor quantization the stream applies."""
    import math

    import numpy as np

    v0 = float(np.float64(src_vec[0]))
    w0 = float(np.float32(np.float64(src_vec[0]) + PERTURB))
    a = math.floor(v0 * scale)
    b = math.floor(w0 * scale)
    return (a - b) * (a - b)


def run_variant(spark, emb, k: int, hier: bool, threshold: int):
    from pymongraph_spark.operators.dedup import (
        assign_hierarchical,
        hierarchical_codebook,
    )
    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        _assign_from_matrix,
        grid_kmeans_cells_fast,
        grid_seeds,
        quantize_arr,
    )
    from pymongraph_spark.queries.streaming import _stream_neardup_run

    def make_assign(e):
        if hier:
            ca, cm, fcb = hierarchical_codebook(e, k_clusters=k, iters=2)
            return lambda qb: assign_hierarchical(qb, ca, cm, fcb)
        qa = quantize_arr(e, "vec_id", "embedding", GRID_SCALE, out="qarr")
        _, ca, cm = grid_kmeans_cells_fast(qa, grid_seeds(e, k, "vec_id"), 2)
        return lambda qb: _assign_from_matrix(qb, ca, cm)

    base = tempfile.mkdtemp(prefix="probe_st92_")
    try:
        batch_times: list = []
        pairs = _stream_neardup_run(
            spark, emb, base, threshold, make_assign, batch_times=batch_times
        )
        got = pairs.collect()
        return got, batch_times
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sparkgraph_sf1"
    for d in (small, big):
        if not os.path.isdir(d):
            raise SystemExit(f"data dir {d} missing — run scripts/gen_scale.py")
    from pymongraph_spark.operators.similarity import GRID_SCALE
    from pymongraph_spark.queries.streaming import _ST91_T
    from pymongraph_spark.session import get_spark

    spark = get_spark(app_name="sparkgraph-probe-st92")
    spark.sparkContext.setLogLevel("ERROR")

    from pymongraph_spark.operators.dedup import codebook_k_for

    results: dict[str, dict] = {"flat_fixed_k": {}, "hier_k_prop_n": {}}
    for scale_name, sf_dir in (("small", small), ("big", big)):
        emb, plants, vecs = planted_corpus(spark, sf_dir)
        emb = emb.localCheckpoint(eager=True)
        n_corpus = len(vecs)
        # the mechanized production sizing rule (2000→16, 20000→160)
        k_hier = codebook_k_for(n_corpus)
        for variant, hier, k in (
            ("flat_fixed_k", False, 16),
            ("hier_k_prop_n", True, k_hier),
        ):
            got, batch_times = run_variant(spark, emb, k, hier, _ST91_T)
            by_pair = {(r.vec_id_new, r.vec_id_corpus): r.l2sq for r in got}
            verified = 0
            for nid, sid in plants.items():
                want = expected_l2sq(vecs[sid], GRID_SCALE)
                if want <= _ST91_T:
                    assert (nid, sid) in by_pair, (
                        f"{variant}/{scale_name}: planted pair ({nid},{sid}) "
                        f"missing (expected l2sq={want})"
                    )
                    assert by_pair[(nid, sid)] == want, (
                        f"{variant}/{scale_name}: planted pair l2sq "
                        f"{by_pair[(nid, sid)]} != numpy-derived {want}"
                    )
                    verified += 1
            assert verified > 0 and len(got) > 0
            last_id, last_rows, last_sec = batch_times[-1]
            assert last_rows == N_PLANT, batch_times  # the fixed-size wave
            results[variant][scale_name] = {
                "k": k,
                "standing_index": n_corpus,
                "probe_batch_rows": last_rows,
                "pairs": len(got),
                "planted_verified": verified,
                "probe_trigger_sec": last_sec,
                "all_batches": batch_times,
            }
            print(
                f"# {variant}/{scale_name}: k={k} index={n_corpus} "
                f"pairs={len(got)} verified={verified} probe={last_sec:.2f}s",
                file=sys.stderr,
                flush=True,
            )
    for variant in results:
        r = results[variant]
        r["probe_trigger_ratio_10x_index"] = round(
            r["big"]["probe_trigger_sec"] / r["small"]["probe_trigger_sec"], 2
        )
        # corpus-wave triggers (batch ~ corpus/3, index growing): the
        # occupancy effect at full-width batches — flat k grows
        # candidates 100x for 10x (10x batch x 10x occupancy), hier k∝n
        # only 10x (batch alone)
        r["wave_trigger_ratio_10x"] = round(
            sum(b[2] for b in r["big"]["all_batches"][1:3])
            / sum(b[2] for b in r["small"]["all_batches"][1:3]),
            2,
        )
    spark.stop()

    out91 = {
        "note": (
            "r11 re-run: fixed-size 1000-vector probe batch of PLANTED "
            "near-dups (one-dim float32 perturbation) against a 1x vs 10x "
            "standing index; pair emission and exact integer-L2^2 values "
            "verified at BOTH scales (r10's at-scale run emitted 0 pairs). "
            "Fixed k=16 leaves occupancy growing 125 -> 1250 with the "
            "corpus; the bounded-occupancy design is st92 "
            "(SCALE_PROBE_st92.json)."
        ),
        "small": small,
        "big": big,
        **results["flat_fixed_k"],
    }
    out92 = {
        "note": (
            "st92: hierarchical d62 codebook with k scaled proportional to "
            "the corpus (16 -> 160 for 10x; occupancy constant ~125); "
            "assignment map-only at O(sqrt(k)) products/vector; fixed-size "
            "1000-vector probe batch; planted pairs verified at both scales."
        ),
        "small": small,
        "big": big,
        **results["hier_k_prop_n"],
    }
    with open(os.path.join(REPO, "SCALE_PROBE_st91.json"), "w") as fh:
        json.dump(out91, fh, indent=1)
    with open(os.path.join(REPO, "SCALE_PROBE_st92.json"), "w") as fh:
        json.dump(out92, fh, indent=1)
    print(json.dumps({"st91_flat": out91, "st92_hier": out92}, indent=1))


if __name__ == "__main__":
    main()
