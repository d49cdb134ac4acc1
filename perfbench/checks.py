"""Output checks, kept free of Spark so they can be tested on corrupted
results directly. Each check returns a list of failure messages (empty
when the output is correct)."""

from __future__ import annotations

# ------------------------------------------------------------ graph_serve


class GraphModel:
    """Driver-side adjacency of the served graph, kept up to date through
    the writes. Answers every read the way the engine should."""

    def __init__(self, vertices, edges):
        """``vertices``: iterable of (id, {natural key prop: value});
        ``edges``: iterable of (edge id, src, dst)."""
        self.verts: set[int] = set()
        self.keys: dict[tuple[str, str], set[int]] = {}
        self.ends: dict[int, tuple[int, int]] = {}
        self.inc: dict[int, set[int]] = {}
        for vid, props in vertices:
            self.add_vertex(vid, props)
        for eid, s, d in edges:
            self.add_edge(eid, s, d)

    def add_vertex(self, vid: int, props: dict) -> None:
        self.verts.add(vid)
        for kv in props.items():
            self.keys.setdefault(kv, set()).add(vid)

    def add_edge(self, eid: int, src: int, dst: int) -> None:
        if eid in self.ends:
            return
        self.ends[eid] = (src, dst)
        self.inc.setdefault(src, set()).add(eid)
        self.inc.setdefault(dst, set()).add(eid)

    def delete_edge(self, eid: int) -> None:
        src, dst = self.ends.pop(eid)
        self.inc[src].discard(eid)
        self.inc[dst].discard(eid)

    def degree(self, vid: int) -> int:
        return len(self.inc.get(vid, ()))

    def neighbors(self, vid: int) -> set[int]:
        """find_neighbors: both endpoints of every incident edge."""
        out: set[int] = set()
        for eid in self.inc.get(vid, ()):
            out.update(self.ends[eid])
        return out

    def k_hop(self, root: int, depth: int) -> set[int]:
        visited, frontier = {root}, {root}
        for _ in range(depth):
            if not frontier:
                break
            flat: set[int] = set()
            for v in frontier:
                flat |= self.neighbors(v)
            frontier = flat - visited
            visited |= frontier
        return visited

    def search(self, key: str, value: str) -> set[int]:
        return set(self.keys.get((key, value), ()))

    def subgraph(self, root: int, depth: int) -> tuple[set[int], set[int]]:
        vs = self.k_hop(root, depth)
        es = {eid for v in vs for eid in self.inc.get(v, ())
              if self.ends[eid][0] in vs and self.ends[eid][1] in vs}
        return vs & self.verts, es


def check_read(kind: str, expected, got) -> str | None:
    if expected != got:
        if isinstance(expected, tuple):
            diff = [len(e ^ g) for e, g in zip(expected, got)]
        else:
            diff = len(expected ^ got)
        return f"{kind}: result differs from the driver-side adjacency ({diff} ids)"
    return None


def check_graph(model: GraphModel, vertex_ids: set[int], edge_ids: set[int]) -> list[str]:
    """The served graph at the end holds exactly the model's ids."""
    out = []
    if vertex_ids != model.verts:
        out.append(f"final vertex ids differ from the model ({len(vertex_ids ^ model.verts)})")
    if edge_ids != set(model.ends):
        out.append(f"final edge ids differ from the model ({len(edge_ids ^ set(model.ends))})")
    return out


# ------------------------------------------------------------- report_etl

#: Insert-origin vertex props that a later micro-batch overwrites in the
#: stream store while a batch import keeps the first insert's value
#: (store.merge_into and the log fold apply $set across batches to the
#: whole props map). Differences on these keys, and only these, are
#: counted instead of failed; see perfbench/README.md.
INSERT_ORIGIN_KEYS = {
    "legitimate": {"datetime", "probability"},
    "malicious": {"datetime", "probability"},
    "owner": {"org"},
}


def compare_stores(name_a: str, a: tuple[dict, dict], name_b: str, b: tuple[dict, dict],
                   tolerated: dict[str, set[str]] | None = None) -> tuple[list[str], int]:
    """Compare two graphs given as ({vid: (label, props)}, {eid: (src,
    dst, label, props)}). Returns (failures, tolerated vertex diffs)."""
    tolerated = tolerated or {}
    (va, ea), (vb, eb) = a, b
    out = []
    if va.keys() != vb.keys():
        out.append(f"{name_a} vs {name_b}: vertex id sets differ ({len(va.keys() ^ vb.keys())})")
    if ea.keys() != eb.keys():
        out.append(f"{name_a} vs {name_b}: edge id sets differ ({len(ea.keys() ^ eb.keys())})")
    bad_v = bad_e = allowed = 0
    for vid in va.keys() & vb.keys():
        (la, pa), (lb, pb) = va[vid], vb[vid]
        if la != lb:
            bad_v += 1
            continue
        if pa == pb:
            continue
        keys = {k for k in pa.keys() | pb.keys() if pa.get(k) != pb.get(k)}
        if keys <= tolerated.get(la, set()):
            allowed += 1
        else:
            bad_v += 1
    for eid in ea.keys() & eb.keys():
        if ea[eid] != eb[eid]:
            bad_e += 1
    if bad_v:
        out.append(f"{name_a} vs {name_b}: {bad_v} vertices differ in label or props")
    if bad_e:
        out.append(f"{name_a} vs {name_b}: {bad_e} edges differ in endpoints, label or props")
    return out, allowed


# -------------------------------------------------------- corpus_curation


def check_corpus(corpus, dedup_survivors: set[int], flagged: set[int],
                 sem_removed: dict[int, int], manifest_docs: int,
                 final_ids: set[int]) -> list[str]:
    """Planted exact copies and near-dups are dropped (and nothing else is),
    every planted contaminated doc is flagged, semantic removals are
    planted duplicates of their recorded source, the quality filter drops
    exactly the planted low-quality docs, and the shard manifest counts
    exactly the final docs. Bloom false positives are not failures."""
    out = []
    planted = set(corpus.exact_dups) | set(corpus.near_dups)
    base = {d for d, _ in corpus.docs} - planted
    if planted & dedup_survivors:
        out.append(f"{len(planted & dedup_survivors)} planted duplicates survived dedup")
    if base - dedup_survivors:
        out.append(f"{len(base - dedup_survivors)} unique docs were dropped by dedup")
    if dedup_survivors - base - planted:
        out.append("dedup returned ids that are not in the corpus")
    missed = (corpus.contaminated & dedup_survivors) - set(sem_removed) - flagged
    if missed:
        out.append(f"{len(missed)} contaminated docs were not flagged")
    wrong = {v for v, src in sem_removed.items() if corpus.sem_dups.get(v) != src}
    if wrong:
        out.append(f"{len(wrong)} semantic removals are not planted duplicates of their source")
    if manifest_docs != len(final_ids):
        out.append(f"shard manifest counts {manifest_docs} docs, expected {len(final_ids)}")
    expected = dedup_survivors - flagged - set(sem_removed) - corpus.low_quality
    if final_ids != expected:
        out.append(f"{len(final_ids ^ expected)} final docs differ from the dedup, "
                   "decontamination and quality decisions")
    return out
