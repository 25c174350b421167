"""Edge support and k-truss decomposition — cohesive-subgraph mining.

The edge-level sibling of k-core (kcore.py): the *support* of an edge is
the number of triangles it participates in, and the k-truss is the maximal
subgraph where every surviving edge has support ≥ k−2 (Cohen 2008) — the
standard community-core / spam-subgraph extractor over a link graph, one
notch stronger than k-core.

Semantics pinned for exact oracle reproducibility (same discipline as the
k-core twin): synchronous peel rounds — round i computes every edge's
support within round i−1's surviving subgraph and drops edges below k−2,
until a fixpoint. The DuckDB twin unrolls ``rounds ≥`` the instance's peel
depth (rounds past the fixpoint are no-ops, so any sufficient depth is
exact); a pytest pins the contract instance's actual depth.

Per round the plan is the triangle plan (triangles.py) plus one explode:

1. orient arcs by (degree, vid) within the current subgraph — bounds wedge
   generation at O(m^1.5) regardless of skew (hubs are wedge targets),
2. wedge join + closing-edge semi-join enumerates each triangle once,
3. every triangle fans out to its three canonical member edges
   (``explode``), one map-side-combinable ``groupBy(src, dst).count()``
   yields support, one join filters the survivors.

At 100 TB: per-round shuffle = wedge volume (O(m^1.5) worst case, far less
on real degree distributions) and the edge set only shrinks; rounds are
independent jobs so lineage is truncated per round (RetainedCheckpointer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .triangles import _oriented_arcs


def edge_support(edges: DataFrame) -> DataFrame:
    """→ (src, dst, support): per-canonical-edge triangle membership count
    (edges in no triangle report support 0)."""
    e = edges.select("src", "dst")
    return e.join(_support_of(e), ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def _support_of(e: DataFrame) -> DataFrame:
    """Support of every triangle-participating edge in canonical edge set
    ``e`` — each enumerated triangle (u; v, w) fans out to its three
    canonical member edges."""
    arcs = _oriented_arcs(e)
    e1 = arcs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    e2 = arcs.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closing = e.select(F.col("src").alias("v"), F.col("dst").alias("w")).union(
        e.select(F.col("dst").alias("v"), F.col("src").alias("w"))
    )
    tris = wedges.join(closing, ["v", "w"], "left_semi")
    member = tris.select(
        F.explode(
            F.array(
                F.struct(F.least("u", "v").alias("src"), F.greatest("u", "v").alias("dst")),
                F.struct(F.least("u", "w").alias("src"), F.greatest("u", "w").alias("dst")),
                F.struct(F.least("v", "w").alias("src"), F.greatest("v", "w").alias("dst")),
            )
        ).alias("m")
    ).select("m.src", "m.dst")
    return member.groupBy("src", "dst").agg(F.count("*").alias("support"))


def k_truss(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (src, dst, support): the k-truss — surviving edges with their
    within-truss support (≥ k−2). Synchronous peel to the fixpoint."""
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3 (got {k})")
    spark = edges.sparkSession
    with supersteps(spark, "k_truss", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        e = checkpoint(edges.select("src", "dst"), -1)
        n_edges = e.count()
        for step in loop.steps(range(1, max_rounds + 1)):
            sup = _support_of(e)
            nxt = (
                e.join(sup, ["src", "dst"], "left")
                .filter(F.coalesce("support", F.lit(0)) >= k - 2)
                .select("src", "dst", F.col("support").cast("long").alias("support"))
            )
            nxt = checkpoint(nxt, step)
            n_next = nxt.count()
            loop.done(n_edges - n_next)
            converged = n_next == n_edges
            # nxt is already parquet-committed; the projection has lineage
            # depth 1 — a second checkpoint would double per-round I/O
            e = nxt.select("src", "dst")
            n_edges = n_next
            if converged or n_edges == 0:
                return nxt
    raise RuntimeError(f"k_truss did not converge within {max_rounds} rounds")
