"""Spanning forest — distributed union-find "winner edges".

Reproduces the query semantics of ``elektra::SpanningTree``
(elektra/spanning_tree.h:27-106): process edges through a union-find; an edge
whose ``unite`` succeeds (links two distinct components) is a forest edge
(the winner-return contract of ``unite_variants::Unite``,
union_find.h:277-324). Our execution is the two-level scheme shared with CC:

1. per-partition pass over the range-partitioned edge table — a **vectorized
   NumPy Boruvka** per partition (see :func:`_np_forest_winners`) emits that
   partition's winner edges (≤ local vertices − local components of them);
2. the union of local winners is a subgraph with O(V) edges whose components
   equal the graph's; its own spanning forest — computed on the driver below
   a size threshold (the reference's sequential-fallback trade,
   euler_tour_tree.h:279), else by recursing the distributed pass — is a
   spanning forest of the original graph, and every emitted edge is an
   original edge. The driver collects the union when it has at most
   ``driver_tier.DRIVER_ROWS_MAX`` rows (:func:`.driver_tier.collect_bounded`,
   one job).

Determinism: edges carry *distinct* lexicographic (src, dst) weights, so the
minimum spanning forest is **unique** — Boruvka (each component picks its
minimum incident edge per round) returns exactly the same winner set as a
sequential Kruskal sweep in (src, dst) order, which is what makes the output
a pure function of the input and the partitioning irrelevant to the final
recombined forest. The oracle asserts the CheckRep MST invariants (elektra
connectivity.h:216-265): forest ⊆ edges, acyclic, |F| = n − #components,
spans every component.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from . import driver_tier
from .cc import _np_components


def _np_forest_winners(src, dst, w=None):
    """Boolean mask of winner edges — vectorized Boruvka, no per-row Python.

    Each round: every component selects its minimum incident live edge by
    total-order rank — lexicographic ``(src, dst)`` when ``w`` is None (the
    unweighted spanning forest), else ``(w, src, dst)`` (the weighted MSF;
    the vid tiebreak keeps the order total even under hash-collided
    weights) — via segmented ``np.minimum.reduceat`` over the
    component-sorted endpoint list; selected edges merge components via the
    shared min-label kernel on the component quotient. A total order →
    the selected set is the unique minimum spanning forest (acyclic by the
    cut property), identical to a sequential Kruskal sweep in rank order.
    O(log n) rounds, each O(E) vectorized.
    """
    import numpy as np

    m = len(src)
    mask = np.zeros(m, dtype=bool)
    if m == 0:
        return mask
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[:m], inv[m:]
    n = len(vids)
    order = np.lexsort((dst, src)) if w is None else np.lexsort((dst, src, w))
    rank = np.empty(m, dtype=np.int64)
    rank[order] = np.arange(m)
    lbl = np.arange(n, dtype=np.int64)
    while True:
        cs, cd = lbl[s], lbl[d]
        live = cs != cd
        if not live.any():
            break
        comp = np.concatenate([cs[live], cd[live]])
        er = np.concatenate([rank[live], rank[live]])
        corder = np.argsort(comp, kind="stable")
        csort = comp[corder]
        starts = np.flatnonzero(np.r_[True, csort[1:] != csort[:-1]])
        min_rank = np.minimum.reduceat(er[corder], starts)
        eidx = order[np.unique(min_rank)]
        mask[eidx] = True
        # merge the touched components: min-label fixpoint on the quotient
        qvids, qroots = _np_components(lbl[s[eidx]], lbl[d[eidx]])
        remap = np.arange(n, dtype=np.int64)
        remap[qvids] = qroots
        lbl = remap[lbl]
    return mask


def _winners(pdf: pd.DataFrame) -> pd.DataFrame:
    """The winner edges of ``pdf`` — ranked by (src, dst), or by (w, src,
    dst) and carrying w when ``pdf`` has a ``w`` column."""
    import numpy as np

    cols = {c: pdf[c].to_numpy(dtype=np.int64) for c in pdf.columns}
    mask = _np_forest_winners(cols["src"], cols["dst"], cols.get("w"))
    return pd.DataFrame({c: v[mask] for c, v in cols.items()})


def _winner_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition winner edges — the vectorized analogue of
    spanning_tree.h:65-71 (CAS unite per edge, winners recorded)."""
    chunks = list(batches)
    if chunks:
        yield _winners(pd.concat(chunks, ignore_index=True))


def _forest(edges: DataFrame, cols: list[str], num_partitions: int | None, depth: int = 0) -> DataFrame:
    """The two-level forest over ``cols`` (``src, dst`` or ``src, dst, w``)."""
    spark = edges.sparkSession
    schema = ", ".join(f"{c} long" for c in cols)
    parts = num_partitions or spark.sparkContext.defaultParallelism
    partitioned = edges.select(*cols).repartitionByRange(parts, "src")
    winners = partitioned.mapInPandas(_winner_kernel, schema).localCheckpoint(eager=True)
    pdf = driver_tier.collect_bounded(winners, driver_tier.DRIVER_ROWS_MAX)
    if pdf is not None:
        # sequential fallback below threshold (euler_tour_tree.h:279): one
        # vectorized Boruvka over the collected winner union
        out = _winners(pdf)
        return spark.createDataFrame(out if len(out) else [], schema)
    if depth >= 4:
        raise RuntimeError("spanning forest failed to reduce below driver_tier.DRIVER_ROWS_MAX")
    # winner union still too large: recurse with fewer, larger partitions —
    # each level multiplies components merged per partition
    return _forest(winners, cols, max(2, parts // 4), depth + 1)


def spanning_forest(edges: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """→ forest edges (src, dst) ⊆ edges; |F| = n − #components."""
    return _forest(edges, ["src", "dst"], num_partitions)


def minimum_spanning_forest(edges: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Weighted minimum spanning forest → (src, dst, w) ⊆ edges.

    Input: (src, dst, w:long) — canonical undirected edges. The (w, src,
    dst) tiebreak makes the edge order total, so the MSF is UNIQUE and the
    two-level composition is exact: for any partition of the edge set,
    ``MSF(G) = MSF(∪ᵢ MSF(Eᵢ))`` — an edge outside its partition's local
    MSF closes a cycle of strictly lighter edges there, so the cycle
    property evicts it globally too (the classic MST filtering /
    Karger–Klein–Tarjan composition). Each level keeps ≤ (local vertices −
    1) edges per partition, so the union shrinks toward O(V) and either
    fits the driver fallback or recurses with fewer partitions — the same
    scale story as :func:`spanning_forest`, weights riding along.

    Reference parity: the unweighted :func:`spanning_forest` reproduces
    ``elektra::SpanningTree`` (spanning_tree.h:27-106) under the arbitrary
    CAS race order; this variant pins the *unique* forest a deterministic
    weight assignment selects, which is what makes a cross-engine
    edge-set-exact oracle possible at all.
    """
    return _forest(edges, ["src", "dst", "w"], num_partitions)
