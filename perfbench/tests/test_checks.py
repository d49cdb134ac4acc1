"""Each output check passes on a correct result and fails on a
deliberately corrupted one."""

from __future__ import annotations

from perfbench import checks, gen

# ------------------------------------------------------------ graph_serve


def _model():
    # 1 - 2 - 3 - 4, plus 2 - 5
    return checks.GraphModel(
        [(v, {"name": f"v{v}"}) for v in range(1, 6)],
        [(12, 1, 2), (23, 2, 3), (34, 3, 4), (25, 2, 5)],
    )


def test_graph_model_answers_reads():
    m = _model()
    assert m.neighbors(1) == {1, 2}
    assert m.k_hop(1, 2) == {1, 2, 3, 5}
    assert m.search("name", "v3") == {3}
    assert m.subgraph(1, 2) == ({1, 2, 3, 5}, {12, 23, 25})


def test_graph_model_follows_writes():
    m = _model()
    m.delete_edge(23)
    m.add_vertex(6, {"email": "x@y"})
    m.add_edge(64, 6, 4)
    assert m.k_hop(1, 2) == {1, 2, 5}
    assert m.neighbors(4) == {3, 4, 6}
    assert m.search("email", "x@y") == {6}


def test_serve_checks_fail_on_corrupted_reads():
    m = _model()
    assert checks.check_read("find_neighbors", m.neighbors(2), {1, 2, 3, 5}) is None
    assert checks.check_read("find_neighbors", m.neighbors(2), {1, 2, 3}) is not None
    assert checks.check_read("build_graph", m.subgraph(1, 2), ({1, 2, 3, 5}, {12, 23})) is not None
    assert checks.check_graph(m, set(m.verts), set(m.ends)) == []
    assert checks.check_graph(m, set(m.verts) - {5}, set(m.ends))
    assert checks.check_graph(m, set(m.verts), set(m.ends) | {99})


# ------------------------------------------------------------- report_etl


def _store():
    vs = {1: ("domain", {"name": "a", "asn": "1"}),
          2: ("malicious", {"hash": "h", "datetime": "d1", "probability": "1/2"})}
    es = {9: (1, 2, "threat", ())}
    return vs, es


def test_store_comparison_passes_on_equal_stores():
    assert checks.compare_stores("a", _store(), "b", _store()) == ([], 0)


def test_store_comparison_fails_on_corruption():
    bad_ids = _store()
    del bad_ids[0][2]
    assert checks.compare_stores("a", _store(), "b", bad_ids)[0]
    bad_props = _store()
    bad_props[0][1] = ("domain", {"name": "a", "asn": "2"})
    assert checks.compare_stores("a", _store(), "b", bad_props, checks.INSERT_ORIGIN_KEYS)[0]
    bad_edge = _store()
    bad_edge[1][9] = (1, 2, "trusted", ())
    assert checks.compare_stores("a", _store(), "b", bad_edge)[0]


def test_store_comparison_counts_only_insert_origin_differences():
    later = _store()
    later[0][2] = ("malicious", {"hash": "h", "datetime": "d2", "probability": "1/2"})
    fails, tolerated = checks.compare_stores("batch", _store(), "log", later,
                                             checks.INSERT_ORIGIN_KEYS)
    assert (fails, tolerated) == ([], 1)
    assert checks.compare_stores("log", _store(), "full", later)[0]


# -------------------------------------------------------- corpus_curation


def _decisions(c):
    """The pipeline's decisions on a correct run."""
    planted = set(c.exact_dups) | set(c.near_dups)
    survivors = {d for d, _ in c.docs} - planted
    flagged = set(c.contaminated) | {min(survivors - c.contaminated)}  # one Bloom false positive
    sem = dict(list(c.sem_dups.items())[:3])
    final = survivors - flagged - set(sem) - c.low_quality
    return survivors, flagged, sem, len(final), final


def test_corpus_check_passes_on_correct_decisions():
    c = gen.corpus(2, 1500)
    assert checks.check_corpus(c, *_decisions(c)) == []


def test_corpus_check_fails_on_corruption():
    c = gen.corpus(2, 1500)
    survivors, flagged, sem, n, final = _decisions(c)
    kept_dup = next(iter(c.near_dups))
    assert checks.check_corpus(c, survivors | {kept_dup}, flagged, sem, n, final)
    assert checks.check_corpus(c, survivors - {0}, flagged, sem, n, final)
    missed = next(iter(c.contaminated - set(sem)))
    assert checks.check_corpus(c, survivors, flagged - {missed}, sem, n, final)
    wrong_src = {v: s + 1 for v, s in sem.items()}
    assert checks.check_corpus(c, survivors, flagged, wrong_src, n, final)
    assert checks.check_corpus(c, survivors, flagged, sem, n + 1, final)
    low = next(iter(c.low_quality - flagged - set(sem)))
    assert checks.check_corpus(c, survivors, flagged, sem, n + 1, final | {low})
