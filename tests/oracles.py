"""Pure NumPy/pandas oracles — no Spark. Mirrors the reference's test strategy
(SURVEY.md §5): brute-force differential oracles with canonical min-vertex
component ids (elektra utilities/simple_forest_connectivity.h:40-57)."""

from __future__ import annotations

import numpy as np


class UnionFind:
    """Sequential union-find with min-vertex canonical roots — the analogue of
    elektra's SimpleForestConnectivity / CheckRep UF replay
    (connectivity.h:216-265)."""

    def __init__(self, vids):
        self.parent = {int(v): int(v) for v in vids}

    def find(self, x):
        r = x
        while self.parent[r] != r:
            r = self.parent[r]
        while self.parent[x] != r:
            self.parent[x], x = r, self.parent[x]
        return r

    def union(self, a, b) -> bool:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        lo, hi = min(ra, rb), max(ra, rb)
        self.parent[hi] = lo  # min-vertex canonical root
        return True


def cc_oracle(edges, vids=None) -> dict[int, int]:
    """vid → min vid of its component."""
    edges = list(edges)
    universe = set(vids) if vids is not None else set()
    for u, v in edges:
        universe.add(int(u))
        universe.add(int(v))
    uf = UnionFind(universe)
    for u, v in edges:
        uf.union(int(u), int(v))
    return {v: uf.find(v) for v in universe}


def spanning_forest_invariants(forest, edges, vids=None) -> None:
    """The CheckRep MST invariant (elektra connectivity.h:216-265): forest ⊂
    edges; forest edges must each unite two components (acyclic, spanning);
    |forest| == n - #components."""
    edge_set = {(min(u, v), max(u, v)) for u, v in edges}
    labels = cc_oracle(edges, vids)
    n = len(labels)
    n_comp = len(set(labels.values()))
    uf = UnionFind(labels.keys())
    for u, v in forest:
        assert (min(u, v), max(u, v)) in edge_set, f"forest edge {(u,v)} not in graph"
        assert uf.union(u, v), f"forest edge {(u,v)} creates a cycle"
    assert len(forest) == n - n_comp, f"|F|={len(forest)} != n-k={n - n_comp}"
    # spanning: forest UF components == graph components
    for v, lbl in labels.items():
        assert uf.find(v) == lbl, f"forest does not span: {v} -> {uf.find(v)} != {lbl}"


def pagerank_oracle(edges, n_or_vids, damping=0.85, iters=100, tol=None, directed=False, init=None):
    """Dense power iteration with uniform dangling-mass redistribution.

    ``init`` (vid → rank) warm-starts the iteration; vertices it omits start
    at 0. Returns dict vid → rank (ranks sum to 1 from a uniform start).
    """
    if np.isscalar(n_or_vids):
        vids = np.arange(int(n_or_vids))
    else:
        vids = np.asarray(sorted(set(int(v) for v in n_or_vids)))
    idx = {int(v): i for i, v in enumerate(vids)}
    n = len(vids)
    out = [[] for _ in range(n)]
    for u, v in edges:
        out[idx[int(u)]].append(idx[int(v)])
        if not directed:
            out[idx[int(v)]].append(idx[int(u)])
    deg = np.array([len(o) for o in out], dtype=np.float64)
    r = np.full(n, 1.0 / n)
    if init is not None:
        r = np.array([float(init.get(int(v), 0.0)) for v in vids])
    for _ in range(iters):
        new = np.zeros(n)
        for i, targets in enumerate(out):
            if targets:
                share = r[i] / deg[i]
                for t in targets:
                    new[t] += share
        dangling = r[deg == 0].sum()
        new = (1 - damping) / n + damping * (new + dangling / n)
        if tol is not None and np.abs(new - r).max() < tol:
            r = new
            break
        r = new
    return {int(v): float(r[idx[int(v)]]) for v in vids}


def lpa_oracle(edges, vids=None, rounds=5, init=None):
    """Synchronous label propagation, frequency-then-min-label tiebreak
    (SURVEY.md §2.7). Returns vid → label after `rounds` supersteps.

    ``init`` (vid → label) warm-starts the run: its vids are the vertex set
    and edges with an endpoint outside it carry no vote."""
    universe = set(int(v) for v in (vids or []))
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        u, v = int(u), int(v)
        if init is not None and (u not in init or v not in init):
            continue
        universe.update((u, v))
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    labels = {v: v for v in universe}
    if init is not None:
        labels = {int(v): int(lab) for v, lab in init.items()}
        universe = set(labels)
    for _ in range(rounds):
        new = {}
        for v in universe:
            nbrs = adj.get(v, [])
            if not nbrs:
                new[v] = labels[v]
                continue
            counts: dict[int, int] = {}
            for u in nbrs:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def seeded_lpa_oracle(edges, seeds, vids=None, rounds=5, unlabeled=-1):
    """Semi-supervised LPA: `seeds` (vid → label) stay clamped; every other
    vertex takes the synchronous frequency-then-min-label vote of its
    currently *labeled* neighbors, carries its previous label when no
    labeled neighbor exists this round, and reports `unlabeled` if never
    reached. Mirrors operators/lpa.py seeded_label_propagation."""
    universe = set(int(v) for v in (vids or []))
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        u, v = int(u), int(v)
        universe.update((u, v))
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    seeds = {int(v): int(l) for v, l in seeds.items()}
    universe.update(seeds)
    labels = dict(seeds)
    for _ in range(rounds):
        new = dict(seeds)
        for v in universe:
            if v in seeds:
                continue
            counts: dict[int, int] = {}
            for u in adj.get(v, []):
                if u in labels:
                    counts[labels[u]] = counts.get(labels[u], 0) + 1
            if counts:
                new[v] = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            elif v in labels:
                new[v] = labels[v]
        labels = new
    return {v: labels.get(v, unlabeled) for v in universe}


def hits_oracle(pairs, verts, n_iter):
    """Directed L1-normalized HITS power iteration (pairs are src→dst)."""
    hub = {v: 1.0 / len(verts) for v in verts}
    auth = {v: 0.0 for v in verts}
    for _ in range(n_iter):
        raw = {}
        for a, b in pairs:
            raw[b] = raw.get(b, 0.0) + hub[a]
        tot = sum(raw.values()) or 1.0
        auth = {v: raw.get(v, 0.0) / tot for v in verts}
        raw = {}
        for a, b in pairs:
            raw[a] = raw.get(a, 0.0) + auth[b]
        tot = sum(raw.values()) or 1.0
        hub = {v: raw.get(v, 0.0) / tot for v in verts}
    return hub, auth


def triangle_count_oracle(edges) -> int:
    """Exact triangle count via adjacency-set intersection (each triangle is
    counted once per edge → divide by 3)."""
    adj: dict[int, set[int]] = {}
    es = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    total = sum(len(adj[u] & adj[v]) for u, v in es)
    return total // 3
