"""Pure-Python/NumPy oracle for the fixpoint algorithms.

Faithful re-derivation of the reference's single-node path
(``pkg/graph/pagerank.go:11-52``: per-vertex update
``c·Σ rank/out + (1-c)·e``, L1 delta, iteration cap 100, one-shot
normalization at convergence) used as the pytest ground truth
(SURVEY §5; BASELINE.json: allclose 1e-6). Also exact brute-force
components / labels / triangles for the micro fixtures.

No Spark here — this is the independent implementation the engine is
checked against.
"""

from __future__ import annotations

from collections import Counter, defaultdict


def numpy_pagerank(
    edges: list[tuple[int, int]],
    c: float = 0.85,
    eps: float = 1e-6,
    max_iter: int = 100,
    e: dict[int, float] | None = None,
    dup_policy: str = "distinct",
    dangling: str = "reference",
):
    """Returns (ranks: dict[id,float], iterations: int, delta: float)."""
    verts = sorted({v for edge in edges for v in edge})
    n = len(verts)
    distinct_edges = sorted(set(edges))
    out_deg: dict[int, int] = Counter(
        s for s, _ in (distinct_edges if dup_policy == "distinct" else edges)
    )
    in_links: dict[int, list[int]] = defaultdict(list)
    for s, d in distinct_edges:
        in_links[d].append(s)

    if e is None:
        evec = {v: 1.0 / n for v in verts}
    else:
        evec = {v: float(e.get(v, 0.0)) for v in verts}
        t = sum(evec.values()) or 1.0
        evec = {v: x / t for v, x in evec.items()}

    rank = {v: 1.0 / n for v in verts}
    dangling_set = [v for v in verts if out_deg.get(v, 0) == 0]
    iteration, delta = 0, float("inf")
    while delta > eps and iteration < max_iter:
        iteration += 1
        extra = 0.0
        if dangling == "redistribute":
            extra = sum(rank[v] for v in dangling_set) / n
        new = {}
        for v in verts:
            s = sum(rank[u] / out_deg[u] for u in in_links.get(v, ()))
            new[v] = c * (s + extra) + (1.0 - c) * evec[v]
        delta = sum(abs(new[v] - rank[v]) for v in verts)
        rank = new
    if dangling == "reference":
        t = sum(rank.values()) or 1.0
        rank = {v: x / t for v, x in rank.items()}
    return rank, iteration, delta


def brute_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Undirected connected components; label = min vertex id in component."""
    adj = defaultdict(set)
    verts = set()
    for s, d in edges:
        verts.update((s, d))
        adj[s].add(d)
        adj[d].add(s)
    label = {}
    for start in sorted(verts):
        if start in label:
            continue
        stack, comp = [start], []
        seen = {start}
        while stack:
            v = stack.pop()
            comp.append(v)
            for u in adj[v]:
                if u not in seen:
                    seen.add(u)
                    stack.append(u)
        m = min(comp)
        for v in comp:
            label[v] = m
    return label


def brute_triangles(edges: list[tuple[int, int]]) -> int:
    """Count unordered vertex triangles in the undirected simple graph."""
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    count = 0
    for a in adj:
        for b in adj[a]:
            if b <= a:
                continue
            for c_ in adj[a] & adj[b]:
                if c_ > b:
                    count += 1
    return count


def brute_label_propagation(
    edges: list[tuple[int, int]], rounds: int
) -> dict[int, int]:
    """Synchronous LPA: label(v) ← most frequent neighbor label, ties →
    smallest label; isolated semantics match plans/labelprop.py."""
    adj = defaultdict(set)
    verts = set()
    for s, d in edges:
        if s == d:
            continue
        verts.update((s, d))
        adj[s].add(d)
        adj[d].add(s)
    label = {v: v for v in verts}
    for _ in range(rounds):
        new = {}
        for v in verts:
            if not adj[v]:
                new[v] = label[v]
                continue
            freq = Counter(label[u] for u in adj[v])
            best = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == label:
            break
        label = new
    return label
