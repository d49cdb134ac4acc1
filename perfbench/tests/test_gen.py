"""The generators are deterministic and plant what the checks rely on."""

from __future__ import annotations

import hashlib
import json

from perfbench import gen


def _digest(lines) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def test_reports_same_seed_same_bytes():
    assert _digest(gen.reports(7, 300)) == _digest(gen.reports(7, 300))
    assert _digest(gen.reports(7, 300)) != _digest(gen.reports(8, 300))


def test_reports_cover_importer_paths():
    reports = [json.loads(s) for s in gen.reports(3, 400)]
    bodies = [next(iter(r.values())) for r in reports]
    nested = any(isinstance(sub["domain"], dict)
                 for b in bodies for sub in b.get("observed-subdomains", []))
    probs = [d["prob"] for b in bodies for k, v in b.items() if "detected" in k for d in v]
    malformed = [p for p in probs if not (p.count("/") == 1 and all(x.isdigit() for x in p.split("/")))]
    assert nested
    assert 0.05 < len(malformed) / len(probs) < 0.15
    assert all(isinstance(b["categories"], list) and isinstance(b["server"], dict)
               and isinstance(b["asn"], int) for b in bodies)


def test_reports_reuse_hubs():
    ips = {}
    for s in gen.reports(5, 1000):
        for b in json.loads(s).values():
            for r in b.get("dns-resolutions", []):
                ip = r["ipaddress"] if isinstance(r["ipaddress"], str) else next(iter(r["ipaddress"]))
                ips[ip] = ips.get(ip, 0) + 1
    assert max(ips.values()) >= 50


def test_corpus_same_seed_same_bytes():
    a, b = gen.corpus(11, 2000), gen.corpus(11, 2000)
    assert a.docs == b.docs and a.eval_docs == b.eval_docs
    assert a.embeddings.tobytes() == b.embeddings.tobytes()
    assert (a.exact_dups, a.near_dups, a.sem_dups) == (b.exact_dups, b.near_dups, b.sem_dups)
    assert a.contaminated == b.contaminated and a.low_quality == b.low_quality


def test_corpus_plants():
    c = gen.corpus(4, 3000)
    text = dict(c.docs)
    for dup, src in c.near_dups.items():
        assert dup > src
        assert gen.jaccard(text[dup], text[src]) >= gen.NEAR_DUP_JACCARD
    for dup, src in c.exact_dups.items():
        assert dup > src
        assert " ".join(text[dup].lower().split()) == " ".join(text[src].lower().split())
    eval_grams = set().union(*(gen.shingles(t, gen.DECONTAM_N) for _, t in c.eval_docs))
    for d in c.contaminated:
        assert gen.shingles(text[d], gen.DECONTAM_N) & eval_grams
    for vec, src in c.sem_dups.items():
        assert float(c.embeddings[vec] @ c.embeddings[src]) > 0.95
