"""The driver-gate rotation in __spark_entry__.queries() (VERDICT r6
"What's wrong" #1): queries with no passing driver CORRECTNESS row must
OUTRANK stale greens, otherwise window-sized stale cohorts starve the
never-gated backlog forever (the r6 steady state: three exactly-50
cohorts cycling while 41 queries never reached the gate)."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "_entry_rotation_probe", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_never_gated_queries_lead_the_window():
    entry = _load_entry()
    ordered = list(entry.queries())
    last = entry._last_gated_round()
    changed = entry._changed_since_gate(last)
    ranks = [0 if k in changed else last.get(k, 0) for k in ordered]
    # sort key is (0 if changed-since-gate else last_gated_round, name):
    # ranks must be non-decreasing, so every never-gated or edited query
    # (rank 0) precedes every current green and no stale cohort can push
    # the backlog out of the window
    assert ranks == sorted(ranks)
    never = [k for k in ordered if k not in last]
    if never:
        first_ranked = next(
            (i for i, k in enumerate(ordered) if k in last and k not in changed),
            len(ordered),
        )
        assert all(ordered.index(k) < first_ranked for k in never)


def test_edited_query_jumps_the_queue(tmp_path, monkeypatch):
    """VERDICT r12 item 2: a query whose implementation fingerprint no
    longer matches the snapshot of its last-gated tree must rank with
    the never-gated block — simulated by tampering one snapshot fp."""
    import json

    entry = _load_entry()
    last = entry._last_gated_round()
    # each _changed_since_gate call fingerprints the whole registry, so
    # compute the set once per GATE_FPS.json state, not per candidate
    changed_before = entry._changed_since_gate(last)
    # pick a CURRENT green: gated most recently and fingerprint-clean
    clean = [
        k
        for k, r in last.items()
        if r == max(last.values()) and k not in changed_before
    ]
    assert clean, "no fingerprint-clean current greens to tamper with"
    victim = sorted(clean)[0]
    baseline_pos = list(entry.queries()).index(victim)
    with open(os.path.join(REPO, "GATE_FPS.json")) as fh:
        data = json.load(fh)
    data["snapshots"][str(last[victim])][victim] = "0" * 16  # tamper
    tampered = tmp_path / "repo"
    tampered.mkdir()
    (tampered / "GATE_FPS.json").write_text(json.dumps(data))
    for name in os.listdir(REPO):
        if name.startswith("CORRECTNESS_r"):
            os.symlink(os.path.join(REPO, name), tampered / name)
    monkeypatch.setattr(entry, "_REPO_DIR", str(tampered))
    ordered = list(entry.queries())
    # the tampered dir links the same CORRECTNESS files, so this
    # _last_gated_round() equals ``last``
    changed_after = entry._changed_since_gate(entry._last_gated_round())
    assert victim in changed_after
    assert ordered.index(victim) < baseline_pos
    # and it ranks inside the rank-0 block: before every clean green
    first_clean = next(
        i
        for i, k in enumerate(ordered)
        if k in last and k not in changed_after and k != victim
    )
    assert ordered.index(victim) < first_clean


def test_rotation_simulation_clears_backlog():
    """Simulate future rounds: with the fixed ordering, every registry
    query receives a driver row within ceil(N/50) rounds of appearing —
    the property the r6 docstring claimed but the old ordering broke."""
    entry = _load_entry()
    names = sorted(entry.queries())
    last = dict(entry._last_gated_round())
    horizon = -(-len(names) // 50) + 1  # ceil(N/50) + 1 slack round
    for rnd in range(100, 100 + horizon):
        window = sorted(names, key=lambda k: (last.get(k, 0), k))[:50]
        for k in window:
            last[k] = rnd
    assert all(k in last for k in names), "backlog not cleared"
    # and staleness keeps rotating: nothing is ever starved long-term
    for rnd in range(100 + horizon, 100 + horizon + 4):
        window = sorted(names, key=lambda k: (last.get(k, 0), k))[:50]
        for k in window:
            last[k] = rnd
    assert max(rnd - r for r in last.values()) <= -(-len(names) // 50)


def test_fingerprints_stable_across_processes():
    """VERDICT r13 What's wrong 1: repr-ing containers of function
    objects (multimodal._DECODERS) embedded per-process memory
    addresses, so two same-tree processes disagreed and m70/m74/m75
    permanently ranked as changed. The fingerprint must be a pure
    function of the source tree."""
    import json
    import subprocess
    import sys

    code = (
        "import json, sys\n"
        "from pymongraph_spark.queries.fingerprints import"
        " current_fingerprints\n"
        "json.dump(current_fingerprints(), sys.stdout, sort_keys=True)\n"
    )
    outs = []
    for _ in range(2):
        r = subprocess.run(
            [sys.executable, "-c", code],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=300,
            env={**os.environ, "PYTHONPATH": REPO},
        )
        assert r.returncode == 0, r.stderr[-2000:]
        outs.append(json.loads(r.stdout))
    assert outs[0] == outs[1]
    assert len(outs[0]) >= 226  # the whole registry fingerprinted


def test_multiline_local_imports_are_collected():
    """ADVICE r13 high: the r13 _IMPORT_RE captured only '(' for
    parenthesized multiline function-local imports, so d65's fingerprint
    excluded bloom_m_bits_for/bloom_decontaminate/shingled_grams — the
    exact r12 stale-green case the walker exists to close. The walk must
    include the source of every transitively imported package helper."""
    from pymongraph_spark.queries import QUERIES
    from pymongraph_spark.queries.fingerprints import _collect

    parts: list[str] = []
    _collect(QUERIES["d65_bloom_decontamination_sized"], set(), parts)
    blob = "\n".join(parts)
    for dep in ("def bloom_m_bits_for", "def bloom_decontaminate",
                "def shingled_grams"):
        assert dep in blob, f"{dep} missing from d65's transitive walk"


def test_collected_parts_are_address_free():
    """No collected part may embed a memory address — the instability
    vector of VERDICT r13 What's wrong 1."""
    import re

    from pymongraph_spark.queries import QUERIES
    from pymongraph_spark.queries.fingerprints import _collect

    addr = re.compile(r" at 0x[0-9a-fA-F]+")
    for name in ("m70_multimodal_decode", "m74_wav_decode_real",
                 "m75_bmp_decode_real"):
        parts: list[str] = []
        _collect(QUERIES[name], set(), parts)
        bad = [p[:120] for p in parts if addr.search(p)]
        assert not bad, f"{name} collected address-bearing parts: {bad}"


def test_fresh_snapshot_clears_changed_set(tmp_path, monkeypatch):
    """Immediately after a gate whose snapshot was taken of THIS tree,
    _changed_since_gate must be empty — in particular m70/m74/m75 must
    not burn gate slots (VERDICT r13 item 1 done-criterion)."""
    import json

    from pymongraph_spark.queries.fingerprints import current_fingerprints

    entry = _load_entry()
    last = entry._last_gated_round()
    fps = current_fingerprints()
    data = {"snapshots": {str(r): fps for r in set(last.values())}}
    fresh = tmp_path / "repo"
    fresh.mkdir()
    (fresh / "GATE_FPS.json").write_text(json.dumps(data))
    for name in os.listdir(REPO):
        if name.startswith("CORRECTNESS_r"):
            os.symlink(os.path.join(REPO, name), fresh / name)
    monkeypatch.setattr(entry, "_REPO_DIR", str(fresh))
    assert entry._changed_since_gate(entry._last_gated_round()) == set()


def test_precheck_flags_and_refreshes_stale_snapshot(tmp_path):
    """VERDICT r13 item 6: snapshot freshness must be automatic. The
    precheck's ensure_fresh_snapshot must (a) report True on a tampered
    stored snapshot for the upcoming round AND replace it with the fresh
    one, (b) report False when none/identical was stored."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "_gate_precheck_probe", os.path.join(REPO, "scripts/gate_precheck.py")
    )
    gp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gp)
    from pymongraph_spark.queries.fingerprints import current_fingerprints

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "CORRECTNESS_r13.json").write_text("{}")
    nxt = str(gp._next_round(str(repo)))
    assert nxt == "14"
    # (b) no stored snapshot: written, not flagged
    assert gp.ensure_fresh_snapshot(str(repo)) is False
    data = json.loads((repo / "GATE_FPS.json").read_text())
    assert data["snapshots"][nxt] == current_fingerprints()
    # (b) identical stored snapshot: not flagged
    assert gp.ensure_fresh_snapshot(str(repo)) is False
    # (a) tampered stored snapshot: flagged AND refreshed
    data["snapshots"][nxt]["q01_pricing_summary"] = "0" * 16
    (repo / "GATE_FPS.json").write_text(json.dumps(data))
    assert gp.ensure_fresh_snapshot(str(repo)) is True
    data = json.loads((repo / "GATE_FPS.json").read_text())
    assert data["snapshots"][nxt] == current_fingerprints()


def test_failed_rows_do_not_count_as_gated():
    entry = _load_entry()
    assert entry._row_passed(
        {"err": None, "rows_match": True, "schema_match": True, "hash_match": True}
    )
    assert not entry._row_passed(
        {"err": None, "rows_match": True, "schema_match": True, "hash_match": False}
    )
    assert entry._row_passed({"err": "no_oracle", "spark_rows": 7})
    assert not entry._row_passed({"err": "boom", "spark_rows": 7})
    assert not entry._row_passed("garbage")
