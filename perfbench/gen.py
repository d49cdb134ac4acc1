"""Seeded input generators. The same seed yields byte-identical inputs.

Two input families:

- ``reports``: threat-intel JSON reports in the importer's input format.
  IPs, owner emails and file hashes are reused across reports with a Zipf
  distribution, so a few of them become hubs. ``observed-subdomains``
  nest recursively, about 10% of detection ``prob`` values are malformed
  (the importer's skip-malformed path), and every report carries list,
  dict and scalar residual fields.
- ``corpus``: train docs, a 10% eval split and one embedding per train
  doc, with planted exact copies, near-duplicate clusters (3-gram Jaccard
  at least 0.9 to their source), eval passages inserted into a known set
  of train docs, and planted semantic duplicates in the embeddings.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------- reports

_TLDS = ("example", "test", "invalid", "local")


def zipf_cum(n: int, s: float) -> list[float]:
    """Cumulative Zipf weights over ranks 1..n, for random.choices."""
    w = (np.arange(1, n + 1, dtype=np.float64) ** -s).cumsum()
    return w.tolist()


class _Pool:
    """Names reused across reports with a Zipf distribution over rank."""

    def __init__(self, rng: random.Random, names: list[str], s: float):
        self.rng, self.names = rng, names
        self.cum = zipf_cum(len(names), s)

    def draw(self) -> str:
        return self.rng.choices(self.names, cum_weights=self.cum)[0]


def _ip(i: int) -> str:
    return f"10.{i // 65536 % 256}.{i // 256 % 256}.{i % 256}"


def _prob(rng: random.Random) -> str:
    if rng.random() < 0.10:
        return rng.choice(("N/A", "", "7/", "x/60", "12-60", "1/2/3"))
    return f"{rng.randint(0, 60)}/60"


def _date(rng: random.Random) -> str:
    return f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


class _ReportGen:
    def __init__(self, seed: int, n: int):
        self.rng = rng = random.Random(seed)
        self.n = n
        self.ips = _Pool(rng, [_ip(i) for i in range(max(8, n // 2))], 1.1)
        self.hashes = _Pool(rng, [f"h{i:07d}" for i in range(max(8, 2 * n))], 1.05)
        self.owners = _Pool(
            rng, [f"owner{i}@corp{i % 97}.example" for i in range(max(8, n // 4))], 1.1
        )

    def domain(self, i: int) -> str:
        return f"d{i}.{_TLDS[i % len(_TLDS)]}"

    def detections(self, body: dict) -> None:
        kinds = (
            "detected-downloaded", "undetected-downloaded",
            "detected-communicating", "undetected-communicating",
            "detected-referrer", "undetected-referrer",
        )
        for kind in self.rng.sample(kinds, self.rng.randint(1, 3)):
            body[kind] = [
                {"hash": self.hashes.draw(), "datetime": _date(self.rng),
                 "prob": _prob(self.rng)}
                for _ in range(self.rng.randint(1, 2))
            ]

    def residuals(self, body: dict, i: int) -> None:
        rng = self.rng
        body["categories"] = rng.sample(
            ["phishing", "malware", "spam", "c2", "parked", "benign"], rng.randint(1, 3)
        )
        body["server"] = {"country": rng.choice(("NL", "US", "DE", "JP")), "port": 443}
        body["asn"] = 64512 + i % 1000

    def whois(self, body: dict) -> None:
        rng = self.rng
        contacts: dict = {}
        for dept in ("admin", "tech", "registrant"):
            r = rng.random()
            if r < 0.5:
                contacts[dept] = {"email": self.owners.draw(), "org": f"org{rng.randint(0, 50)}"}
            elif r < 0.6:
                contacts[dept] = {"name": "no-email"}
            elif r < 0.7:
                contacts[dept] = None
        body["whois"] = {"contacts": contacts}

    def domain_body(self, name: str, i: int, depth: int) -> dict:
        rng = self.rng
        body: dict = {"dns-resolutions": []}
        for _ in range(rng.randint(1, 3)):
            ip = self.ips.draw()
            rec: object = ip
            if depth > 0 and rng.random() < 0.15:
                rec = {ip: {"dns-resolutions": [
                    {"ipaddress": ip, "domain": self.domain(rng.randrange(self.n)),
                     "date": _date(rng)}
                ]}}
            body["dns-resolutions"].append({"ipaddress": rec, "domain": name, "date": _date(rng)})
        subs = []
        for j in range(rng.randint(0, 2)):
            child = f"s{j}.{name}"
            if depth > 0 and rng.random() < 0.4:
                subs.append({"domain": {child: self.domain_body(child, i, depth - 1)}})
            else:
                subs.append({"domain": child})
        if subs:
            body["observed-subdomains"] = subs
        self.detections(body)
        if depth == 2:
            self.whois(body)
            self.residuals(body, i)
        return body

    def report(self, i: int) -> dict:
        rng = self.rng
        if rng.random() < 0.2:
            ip = self.ips.draw()
            body = {"dns-resolutions": [
                {"ipaddress": ip, "domain": self.domain(rng.randrange(self.n)),
                 "date": _date(rng)}
                for _ in range(rng.randint(1, 3))
            ]}
            self.detections(body)
            self.residuals(body, i)
            return {ip: body}
        name = self.domain(i)
        return {name: self.domain_body(name, i, depth=2)}


def reports(seed: int, n: int) -> list[str]:
    """``n`` reports as JSON lines (one report per string)."""
    g = _ReportGen(seed, n)
    return [json.dumps(g.report(i)) for i in range(n)]


# ----------------------------------------------------------------- corpus

STOPWORDS = ["the", "a", "an", "of", "and", "or", "to", "in", "is", "it"]
DECONTAM_N = 8      # eval n-gram size used for decontamination
NEAR_DUP_JACCARD = 0.9
EMB_DIM = 64


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set(STOPWORDS)
    out = list(STOPWORDS)
    while len(out) < size:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, tokenized like functions.text.tokens."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb)


@dataclass
class Corpus:
    docs: list[tuple[int, str]]             # (doc_id, text), ids 0..n-1
    eval_docs: list[tuple[int, str]]
    embeddings: np.ndarray                  # float32 (n, EMB_DIM), row = doc_id
    exact_dups: dict[int, int] = field(default_factory=dict)   # copy -> source
    near_dups: dict[int, int] = field(default_factory=dict)    # dup -> source
    contaminated: set[int] = field(default_factory=set)
    sem_dups: dict[int, int] = field(default_factory=dict)     # vec -> source
    low_quality: set[int] = field(default_factory=set)


def corpus(seed: int, n: int) -> Corpus:
    """``n`` train docs plus ``n // 10`` eval docs and embeddings.

    Ids below ``n_base`` are base docs; every planted copy or near-dup has
    a higher id than its source, so keep-min-id dedup must drop exactly
    the planted docs.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 20000)
    p = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -0.8
    cum = np.cumsum(p / p.sum())
    pool = vocab[np.minimum(np.searchsorted(cum, rng.random(150 * n)), len(vocab) - 1)]
    cursor = 0

    def words(k: int) -> list[str]:
        nonlocal cursor
        if cursor + k > len(pool):
            cursor = 0
        cursor += k
        return pool[cursor - k:cursor].tolist()

    n_exact, n_near = n // 20, n // 10
    n_base = n - n_exact - n_near
    lengths = rng.integers(60, 120, n_base)
    low_q = rng.random(n_base) < 0.08
    base = []
    c = Corpus([], [], np.zeros((0, EMB_DIM), np.float32))
    for i in range(n_base):
        if low_q[i]:
            c.low_quality.add(i)
            toks = [w + rng.choice(list("!?;:,.")) for w in words(int(rng.integers(12, 20)))]
        else:
            toks = words(int(lengths[i]))
        base.append(toks)

    n_eval = max(1, n // 10)
    eval_toks = [words(int(rng.integers(60, 100))) for _ in range(n_eval)]
    c.eval_docs = [(j, " ".join(t)) for j, t in enumerate(eval_toks)]
    normal = np.flatnonzero(~low_q)
    for i in rng.choice(normal, size=max(1, n_base // 50), replace=False):
        src = eval_toks[int(rng.integers(n_eval))]
        at = int(rng.integers(0, len(src) - 10))
        pos = int(rng.integers(0, len(base[i])))
        base[int(i)][pos:pos] = src[at:at + 10]
        c.contaminated.add(int(i))

    texts = [" ".join(t) for t in base]
    next_id = n_base
    for src in rng.choice(n_base, size=n_exact):
        t = base[int(src)]
        # same normalized text, different bytes: case and whitespace vary
        texts.append("  " + t[0].upper() + "\t" + " ".join(t[1:]) + " ")
        c.exact_dups[next_id] = int(src)
        next_id += 1
    sources = rng.choice(normal, size=n_near)
    for src in sources:
        t = list(base[int(src)])
        if rng.random() < 0.5:
            t = t + words(int(rng.integers(1, 5)))
        else:
            t[int(rng.integers(3, len(t) - 3))] = str(words(1)[0])
        text = " ".join(t)
        if jaccard(text, texts[int(src)]) < NEAR_DUP_JACCARD:
            text = texts[int(src)] + " " + str(words(1)[0])
        texts.append(text)
        c.near_dups[next_id] = int(src)
        next_id += 1
    c.docs = list(enumerate(texts))

    # semantic duplicates: a base doc in the upper half gets a noisy copy of
    # a lower-half doc's embedding (cosine ~0.98; unrelated pairs ~0)
    emb = rng.standard_normal((n, EMB_DIM))
    half = n_base // 2
    k = n // 50
    vecs = rng.choice(np.arange(half, n_base), size=k, replace=False)
    for vec, src in zip(vecs, rng.choice(half, size=k, replace=False)):
        src = int(src)
        emb[vec] = emb[src] / np.linalg.norm(emb[src]) + 0.02 * rng.standard_normal(EMB_DIM)
        c.sem_dups[int(vec)] = src
    c.embeddings = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return c
