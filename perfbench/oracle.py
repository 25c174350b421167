"""NumPy oracles and output checks for the benchmark.

Every oracle works on dense vids ``0..n-1`` and canonical edge arrays
``src < dst``. Each ``check_*`` returns ``None`` when the output is correct
and a one-line reason otherwise, so the caller can count failures without
stopping the run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RANK_RTOL = 1e-6
RANK_ATOL = 1e-12


def _both(src, dst):
    return np.concatenate([src, dst]), np.concatenate([dst, src])


def pagerank(src, dst, n: int, n_iter: int, damping: float = 0.85) -> np.ndarray:
    """Undirected power iteration, uniform start, dangling mass spread
    uniformly — the engine's fixed-superstep schedule."""
    s, d = _both(src, dst)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.bincount(d, weights=r[s] / deg[s], minlength=n)
        r = (1.0 - damping) / n + damping * (contrib + r[dangling].sum() / n)
    return r


def components(src, dst, n: int) -> np.ndarray:
    """vid → minimum vid of its component (min-label propagation with
    pointer jumping until nothing changes)."""
    lbl = np.arange(n, dtype=np.int64)
    while True:
        m = np.minimum(lbl[src], lbl[dst])
        new = lbl.copy()
        np.minimum.at(new, src, m)
        np.minimum.at(new, dst, m)
        new = new[new]
        if np.array_equal(new, lbl):
            return lbl
        lbl = new


def label_propagation(src, dst, n: int, rounds: int) -> np.ndarray:
    """Synchronous rounds; each vertex takes its most frequent neighbour
    label, ties to the smaller label; vertices without neighbours keep theirs."""
    s, d = _both(src, dst)
    lbl = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        pairs = pd.DataFrame({"v": d, "label": lbl[s]})
        cnt = pairs.groupby(["v", "label"], sort=False).size().reset_index(name="cnt")
        best = cnt.sort_values(["v", "cnt", "label"], ascending=[True, False, True]).drop_duplicates("v")
        lbl = lbl.copy()
        lbl[best["v"].to_numpy()] = best["label"].to_numpy()
    return lbl


def triangles(src, dst) -> int:
    """Triangles of a simple undirected graph: orient each edge from the
    lower (degree, vid) end, then count closing edges of out-wedges."""
    n = int(max(src.max(), dst.max())) + 1 if len(src) else 0
    deg = np.bincount(np.concatenate([src, dst]), minlength=n)
    fwd = (deg[src] < deg[dst]) | ((deg[src] == deg[dst]) & (src < dst))
    a, b = np.where(fwd, src, dst), np.where(fwd, dst, src)
    o = np.argsort(a, kind="stable")
    a, b = a[o], b[o]
    keys = set((np.minimum(src, dst) * n + np.maximum(src, dst)).tolist())
    starts = np.searchsorted(a, np.arange(n + 1))
    total = 0
    for u in np.nonzero(np.diff(starts) >= 2)[0]:
        out = b[starts[u]:starts[u + 1]]
        i, j = np.triu_indices(len(out), 1)
        lo, hi = np.minimum(out[i], out[j]), np.maximum(out[i], out[j])
        total += sum(1 for k in (lo * n + hi).tolist() if k in keys)
    return total


def spanning_forest_mask(src, dst, n: int) -> np.ndarray:
    """Kruskal in (src, dst) order — the unique lexicographic-minimum
    spanning forest of the edge set. → boolean mask over the edges."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    o = np.lexsort((dst, src))
    mask = np.zeros(len(src), dtype=bool)
    for i in o.tolist():
        ru, rv = find(int(src[i])), find(int(dst[i]))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
            mask[i] = True
    return mask


# ---- output checks ------------------------------------------------------

def _dense(pdf: pd.DataFrame, col: str, n: int):
    vid = pdf["vid"].to_numpy()
    if len(vid) != n or len(np.unique(vid)) != n or vid.min() != 0 or vid.max() != n - 1:
        return None
    out = np.empty(n, dtype=pdf[col].dtype)
    out[vid] = pdf[col].to_numpy()
    return out


def check_ranks(pdf: pd.DataFrame, want: np.ndarray) -> str | None:
    got = _dense(pdf, "rank", len(want))
    if got is None:
        return f"rank table covers {len(pdf)} rows, want vids 0..{len(want) - 1}"
    if not np.allclose(got, want, rtol=RANK_RTOL, atol=RANK_ATOL):
        worst = int(np.argmax(np.abs(got - want)))
        return f"rank of vid {worst} is {got[worst]!r}, want {want[worst]!r}"
    return None


def check_labels(pdf: pd.DataFrame, col: str, want: np.ndarray) -> str | None:
    got = _dense(pdf, col, len(want))
    if got is None:
        return f"{col} table covers {len(pdf)} rows, want vids 0..{len(want) - 1}"
    bad = np.nonzero(got.astype(np.int64) != want)[0]
    if len(bad):
        return f"{len(bad)} {col}s differ, first vid {bad[0]}: {got[bad[0]]} vs {want[bad[0]]}"
    return None


def check_edges(pdf: pd.DataFrame, src, dst) -> str | None:
    got = pdf[["src", "dst"]].to_numpy(dtype=np.int64)
    got = got[np.lexsort((got[:, 1], got[:, 0]))]
    if got.shape[0] != len(src) or not (np.array_equal(got[:, 0], src) and np.array_equal(got[:, 1], dst)):
        return f"derived {got.shape[0]} edges, want {len(src)} (or contents differ)"
    return None


def check_count(got: int, want: int, what: str) -> str | None:
    return None if int(got) == int(want) else f"{what} {got}, want {want}"


def check_connected(pdf: pd.DataFrame, queries: np.ndarray, labels: np.ndarray) -> str | None:
    got = pdf.sort_values(["u", "v"])
    q = queries[np.lexsort((queries[:, 1], queries[:, 0]))]
    want = labels[q[:, 0]] == labels[q[:, 1]]
    if len(got) != len(q) or not np.array_equal(got[["u", "v"]].to_numpy(), q):
        return f"{len(got)} query answers for {len(q)} queries"
    bad = int((got["connected"].to_numpy() != want).sum())
    return f"{bad} of {len(q)} connectivity answers wrong" if bad else None
