"""Triangle counting via degree-ordered wedge joins.

Not in the reference (mandated by the north rule, SURVEY.md §2.7). The
classic distributed algorithm: orient every undirected edge from the
lower-ranked endpoint to the higher, where rank = (degree, vid) — a total
order, so each triangle has exactly one source vertex with two out-arcs and
is counted exactly once by the wedge join. Orienting by degree bounds the
out-degree of every vertex by O(√m), so the wedge relation is O(m^1.5) even
on skewed graphs — hubs become wedge *targets*, not wedge generators, which
is the skew story at 100 TB.

Plan shape: two shuffle joins on arc endpoints + one count. AQE handles any
residual skew in the wedge probe join.

:func:`triangle_count` (and so :func:`transitivity`,
:func:`triangle_count_sampled` and :func:`triangle_count_delta`'s batch
term) first tries the driver tier (:mod:`.driver_tier`): a graph within
``SMALL_GRAPH_MAX`` edges is collected and counted in NumPy by the same
orientation (:func:`_np_triangle_count`), unless its wedges exceed
``DRIVER_WEDGES_MAX``. Both paths count the same wedges, so they agree on
any input, duplicate rows and self-loops included.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import driver_tier
from .degrees import degrees

# wedges closed per NumPy pass of the driver tier: bounds its peak memory
# (a few int64 arrays of this length) whatever the graph's wedge count
_WEDGE_CHUNK = 1 << 22


def _oriented_arcs(edges: DataFrame) -> DataFrame:
    """Canonical edges → arcs oriented by (degree, vid) rank."""
    deg = degrees(edges)
    e = (
        edges.join(deg.select(F.col("vid").alias("src"), F.col("degree").alias("dsrc")), "src")
        .join(deg.select(F.col("vid").alias("dst"), F.col("degree").alias("ddst")), "dst")
    )
    lower_first = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )


def _np_triangle_count(src: np.ndarray, dst: np.ndarray, n: int) -> int | None:
    """The wedge join of :func:`triangle_count` over dense-indexed edge
    rows, or ``None`` when it has more than ``driver_tier.DRIVER_WEDGES_MAX``
    wedges.

    Arcs are oriented by the same (degree, vid) rank as
    :func:`_oriented_arcs` (degrees count edge rows, so a duplicate row is a
    second arc and a self-loop a self-arc) and grouped by apex into a CSR
    sorted by target. Arc ``p`` then pairs with the later arcs of its apex,
    so the wedges are enumerated in arc order, chunk by chunk; a wedge
    ``(v, w)`` with ``v < w`` counts when an edge row joins ``v`` and ``w``
    (a ``searchsorted`` over the sorted undirected edge keys)."""
    deg = np.bincount(src, minlength=n) + np.bincount(dst, minlength=n)
    lower_first = (deg[src] < deg[dst]) | ((deg[src] == deg[dst]) & (src < dst))
    apex = np.where(lower_first, src, dst)
    out_deg = np.bincount(apex, minlength=n)
    if int((out_deg * (out_deg - 1) // 2).sum()) > driver_tier.DRIVER_WEDGES_MAX:
        return None
    tip = np.where(lower_first, dst, src)
    order = np.lexsort((tip, apex))
    apex, tip = apex[order], tip[order]
    partners = np.cumsum(out_deg)[apex] - np.arange(len(tip)) - 1
    ends = np.cumsum(partners)
    keys = np.unique(np.minimum(src, dst) * n + np.maximum(src, dst))
    total, start = 0, 0
    while start < len(tip):
        done = int(ends[start - 1]) if start else 0
        stop = max(int(np.searchsorted(ends, done + _WEDGE_CHUNK, side="right")), start + 1)
        cnt = partners[start:stop]
        first = np.repeat(np.arange(start, stop), cnt)
        # the k-th partner of arc p is arc p + 1 + k
        second = first + 1 + np.arange(len(first)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        v, w = tip[first], tip[second]
        q = v[v < w] * n + w[v < w]
        hit = keys[np.minimum(np.searchsorted(keys, q), len(keys) - 1)] == q
        total += int(np.count_nonzero(hit))
        start = stop
    return total


def triangle_count(edges: DataFrame) -> DataFrame:
    """→ single-row DataFrame (n_triangles: long).

    A graph within the driver tier's bounds is counted by
    :func:`_np_triangle_count` after one size job and one collect; any
    other by the Spark wedge join."""
    g = driver_tier.collect_small(edges)
    if g is not None:
        n = _np_triangle_count(g.src, g.dst, len(g.vids))
        if n is not None:
            return driver_tier.local_frame(
                edges.sparkSession, pd.DataFrame({"n_triangles": [n]}), "n_triangles long"
            )
    arcs = _oriented_arcs(edges)
    e1 = arcs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    e2 = arcs.select(F.col("a").alias("u"), F.col("b").alias("w"))
    # one wedge per unordered out-pair of the apex u (v < w by vid)
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closing = edges.select(F.col("src").alias("v"), F.col("dst").alias("w")).union(
        edges.select(F.col("dst").alias("v"), F.col("src").alias("w"))
    )
    # shuffle_hash with the edge set as build side: a sort-merge join would
    # sort the O(m^1.5) wedge relation just to probe 2m closing arcs
    tri = wedges.join(closing.hint("shuffle_hash"), ["v", "w"], "left_semi")
    return tri.agg(F.count("*").cast("long").alias("n_triangles"))


def four_cycle_count(edges: DataFrame) -> DataFrame:
    """→ single-row (n_four_cycles: long) — exact rectangle count.

    Uses the closed-4-walk trace identity: with λ(u,w) = common-neighbor
    count and A the adjacency matrix,

        tr(A⁴) = Σ_{u≠w} λ(u,w)² + Σ_v deg(v)²
        C4     = (Σ_{u≠w} λ(u,w)² − Σ_v deg(v)² + 2m) / 8

    (each 4-cycle contributes 8 closed 4-walks; the two correction terms
    remove the u-v-u-v and u-v-u-w degenerate walks). Everything is an
    integer aggregate — the DuckDB twin reproduces it exactly, and the
    quadruple-enumeration this replaces never materializes.

    Plan: the both-directions relation self-joins on the wedge center (one
    shuffle, co-partitioned), λ is a map-side-combinable count per ordered
    endpoint pair (second shuffle), and the three scalars fold in a
    cross-join of 1-row frames — no driver-side collect.

    Scale note (honest envelope): the wedge relation is Σ_v deg(v)² rows —
    quadratic in hub degree, NOT the O(m^1.5) degree-ordered bound the
    triangle counter gets, because λ needs *every* wedge, not one per
    oriented apex. At 100 TB, cap hub centers (the linkpred
    LINKPRED_MAX_PIVOT_DEG contract) for a bounded variant, or sample
    edges DOULION-style (keep p, scale C4 by p⁻⁴) for an unbiased
    estimate; the exact form here is for graphs whose max degree is
    bounded (the co-purchase contract instance).
    """
    b = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lam = (
        b.select(F.col("src").alias("c"), F.col("dst").alias("u"))
        .join(b.select(F.col("src").alias("c"), F.col("dst").alias("w")), "c")
        .filter(F.col("u") != F.col("w"))
        .groupBy("u", "w")
        .agg(F.count("*").alias("lam"))
        .agg(F.sum(F.col("lam") * F.col("lam")).alias("s_lam2"))
    )
    deg2 = b.groupBy("src").agg(F.count("*").alias("d")).agg(F.sum(F.col("d") * F.col("d")).alias("s_deg2"))
    m = edges.agg(F.count("*").alias("m"))
    return (
        lam.crossJoin(deg2)
        .crossJoin(m)
        .select(
            ((F.col("s_lam2") - F.col("s_deg2") + 2 * F.col("m")) / F.lit(8))
            .cast("long")
            .alias("n_four_cycles")
        )
    )


def four_clique_count(edges: DataFrame) -> DataFrame:
    """→ single-row (n_four_cliques: long) — exact K4 count.

    Same degree-ordering discipline as :func:`triangle_count`, one level
    deeper: in the (degree, vid)-oriented DAG every 4-clique has exactly one
    topological labeling a→b→c→d, so it is enumerated once — as the oriented
    triangle (a,b,c) extended by c's out-arc to d and closed by the two
    semi-join membership probes (a,d), (b,d).

    Plan: the triangle enumeration is the O(m^1.5) wedge join; the extension
    multiplies by c's out-degree, which degree-ordering bounds by O(√m) —
    hubs sit at the HIGH end of the order, so they are probe targets, never
    fan-out generators. Every join keys on arc endpoints (co-partitionable);
    the probes are left-semi (no row-width growth). Integer aggregate — the
    DuckDB twin enumerates the same cliques under vid-canonical order and
    must agree exactly.
    """
    arcs = _oriented_arcs(edges)
    tri = (
        arcs.select(F.col("a"), F.col("b"))
        .join(arcs.select(F.col("a").alias("b"), F.col("b").alias("c")), "b")
        .join(arcs.select(F.col("a"), F.col("b").alias("c")), ["a", "c"], "left_semi")
    )
    quad = (
        tri.join(arcs.select(F.col("a").alias("c"), F.col("b").alias("d")), "c")
        .join(arcs.select(F.col("a"), F.col("b").alias("d")), ["a", "d"], "left_semi")
        .join(arcs.select(F.col("a").alias("b"), F.col("b").alias("d")), ["b", "d"], "left_semi")
    )
    return quad.agg(F.count(F.lit(1)).cast("long").alias("n_four_cliques"))


def local_clustering_coefficient(edges: DataFrame) -> DataFrame:
    """→ (vid, degree, n_triangles, coeff): Watts–Strogatz local clustering
    coefficient ``2·T(v) / (d(v)·(d(v)−1))`` per vertex, 0 when ``d < 2``.

    The per-vertex feature a link-graph user joins back onto vertices
    ("how clique-like is this node's neighborhood") — composed entirely from
    the two existing aggregates (:func:`triangle_count_per_vertex` +
    ``degrees``), so the 100 TB plan is the triangle wedge join (O(m^1.5),
    hub-safe) plus one broadcast-sized join on ``vid``; no new shuffle shape.
    The division is a plain column expression the DuckDB twin mirrors
    parenthesis-for-parenthesis, rounded to 1e-6.
    """
    deg = degrees(edges)
    tpv = triangle_count_per_vertex(edges)
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    d = F.col("degree").cast("double")
    coeff = F.when(F.col("degree") >= 2, (F.lit(2.0) * t) / (d * (d - F.lit(1.0)))).otherwise(F.lit(0.0))
    return deg.join(tpv, "vid", "left").select(
        "vid",
        F.col("degree").cast("long").alias("degree"),
        t.alias("n_triangles"),
        F.round(coeff, 6).alias("coeff"),
    )


def triangle_count_delta(old_edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental triangle count under a batch edge insert — the
    batch-dynamic expression of the north-rule triangle analytic (the same
    insert-delta discipline as the reference's ``BatchAddEdges``,
    dynamic_connectivity.h:44-77, applied to a derived statistic instead of
    connectivity): given the old canonical edge set and a canonical batch
    of genuinely-new edges, count only the triangles the batch *creates*,
    so ``T(old ∪ new) = T(old) + Δ`` without re-enumerating the old graph.

    Δ is assembled by inclusion–exclusion over how many batch edges a new
    triangle contains (1, 2, or 3):

    - ``raw`` = Σ over new edges (a,b) of |Γ_union(a) ∩ Γ_union(b)| — every
      new triangle counted once per new edge it contains,
    - triangles with exactly 2 new edges are counted twice → subtract t2,
    - triangles with 3 new edges are counted three times → subtract 2·t3,
    - Δ = raw − t2 − 2·t3.

    Each term is one wedge/closing join: ``raw`` probes the union adjacency
    only around batch endpoints (cost ∝ Σ_{e∈new} (deg(a)+deg(b)), NOT the
    old graph size — the point of the incremental path at 100 TB); t2 uses
    wedges of new-edge pairs closed by an old edge; t3 is the triangle
    count of the batch alone. → single row (delta_triangles: long).

    Batch *deletes* are the same identity by symmetry: for a deleted batch
    D ⊆ G, ``T(G) = T(G∖D) + triangle_count_delta(G∖D, D)`` — the
    maintained count after a delete is the old count minus this delta, at
    the same batch-proportional cost (mirroring the reference's
    ``BatchDeleteEdges``, dynamic_connectivity.h:169-377).
    """
    old = old_edges.select("src", "dst")
    new = new_edges.select("src", "dst")
    union = old.union(new)
    both_u = union.select(F.col("src").alias("v"), F.col("dst").alias("w")).union(
        union.select(F.col("dst").alias("v"), F.col("src").alias("w"))
    )
    # raw: per new edge (a,b), common neighbors in the union graph — one
    # wedge join keyed on the new-edge endpoints
    na = new.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    ga = na.join(both_u.withColumnRenamed("v", "a").withColumnRenamed("w", "c"), "a")
    raw = (
        ga.join(
            both_u.select(F.col("v").alias("b"), F.col("w").alias("c")), ["b", "c"], "left_semi"
        )
        .filter((F.col("c") != F.col("a")) & (F.col("c") != F.col("b")))
        .agg(F.count("*").cast("long").alias("raw"))
    )
    # t2: triangles whose new-edge count is exactly 2 — wedges of two new
    # edges sharing an apex, closed by an OLD edge. The apex here is FORCED
    # (the vertex the two new edges share), so the wedge join runs over the
    # both-directions batch adjacency, not degree-oriented arcs — orienting
    # could split the pair across apexes and miss the wedge. Cost is
    # Σ deg_new(u)² — quadratic in the *batch*, not the graph.
    both_n = new.select(F.col("src").alias("u"), F.col("dst").alias("x")).union(
        new.select(F.col("dst").alias("u"), F.col("src").alias("x"))
    )
    wedges_nn = (
        both_n.withColumnRenamed("x", "v")
        .join(both_n.withColumnRenamed("x", "w"), "u")
        .filter(F.col("v") < F.col("w"))
    )
    both_old = old.select(F.col("src").alias("v"), F.col("dst").alias("w")).union(
        old.select(F.col("dst").alias("v"), F.col("src").alias("w"))
    )
    t2 = wedges_nn.join(both_old, ["v", "w"], "left_semi").agg(
        F.count("*").cast("long").alias("t2")
    )
    # t3: triangles entirely inside the batch
    t3 = triangle_count(new).select(F.col("n_triangles").alias("t3"))
    return (
        raw.crossJoin(t2)
        .crossJoin(t3)
        .select((F.col("raw") - F.col("t2") - 2 * F.col("t3")).cast("long").alias("delta_triangles"))
    )


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """→ (vid, n_triangles) per-vertex triangle participation counts."""
    arcs = _oriented_arcs(edges)
    e1 = arcs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    e2 = arcs.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closing = edges.select(F.col("src").alias("v"), F.col("dst").alias("w")).union(
        edges.select(F.col("dst").alias("v"), F.col("src").alias("w"))
    )
    tris = wedges.join(closing, ["v", "w"], "left_semi")
    per = tris.select(F.explode(F.array("u", "v", "w")).alias("vid")).groupBy("vid").agg(
        F.count("*").alias("n_triangles")
    )
    return per


def triangle_count_sampled(edges: DataFrame, p_permille: int = 200) -> DataFrame:
    """DOULION sparsified triangle estimate → single row
    (n_sampled_edges, n_triangles_sampled, estimated_triangles).

    Tsourakakis et al. (KDD 2009): count triangles on an edge-sampled
    subgraph and scale by ``1/p³`` — the standard way to bound the
    O(m^1.5) wedge volume when the edge table is 10^12 rows and an exact
    count is not worth the shuffle. The "coin" is a deterministic
    vid-derived hash, not a RNG: edge (src, dst) survives iff
    ``(src·1000003 + dst·997) mod 1000 < p_permille`` — reproducible
    across runs and engines (the DuckDB twin recomputes the identical
    expression), and consistent under re-partitioning, which a true
    per-row RNG is not. The estimate ``T_s · (1000/p_permille)³`` is an
    exact-integer-times-exact-double product, so both engines agree
    bit-for-bit before the contract's 1e-6 rounding.

    100 TB plan shape: the filter pushes down to the edge scan (a pure
    column predicate), and the downstream wedge join sees p³ of the wedge
    volume — the whole point. Skew note: hash-sampling thins hub degrees
    by p uniformly, so the degree-ordered orientation's O(√(pm)) out-degree
    bound still holds on the sample.
    """
    if not (0 < p_permille <= 1000):
        raise ValueError("p_permille must be in (0, 1000]")
    coin = (F.col("src") * F.lit(1000003) + F.col("dst") * F.lit(997)) % 1000
    sampled = edges.select("src", "dst").filter(coin < p_permille)
    scale = (1000.0 / p_permille) ** 3
    n_edges = sampled.count()
    return triangle_count(sampled).select(
        F.lit(n_edges).cast("long").alias("n_sampled_edges"),
        F.col("n_triangles").alias("n_triangles_sampled"),
        F.round(F.col("n_triangles").cast("double") * F.lit(scale), 6).alias("estimated_triangles"),
    )


def transitivity(edges: DataFrame) -> DataFrame:
    """→ single-row (n_wedges, n_triangles, transitivity) — the GLOBAL
    clustering coefficient 3·T / W, where W = Σ_v d(v)·(d(v)−1)/2 is the
    wedge (open-or-closed path of length 2) count of the simple undirected
    graph. The whole-graph companion of
    :func:`local_clustering_coefficient`: one number instead of a
    per-vertex table, and NOT the mean of the local coefficients (hubs
    weigh in proportionally to their wedge counts here).

    Plan shape: the degree aggregate is one map-side-combinable shuffle and
    the triangle count is the shared degree-ordered wedge join; both are
    integer aggregates, so the cross-engine twin agrees exactly before the
    contract's 1e-6 rounding of the ratio.
    """
    b = edges.select(F.col("src").alias("vid")).unionAll(edges.select(F.col("dst").alias("vid")))
    deg = b.groupBy("vid").agg(F.count(F.lit(1)).alias("d"))
    wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")).alias("n_wedges")
    )
    tri = triangle_count(edges)
    return wedges.crossJoin(tri).select(
        "n_wedges",
        "n_triangles",
        F.round(
            F.when(F.col("n_wedges") > 0, 3.0 * F.col("n_triangles") / F.col("n_wedges")).otherwise(0.0),
            6,
        ).alias("transitivity"),
    )
