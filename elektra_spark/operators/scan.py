"""SCAN — Structural Clustering Algorithm for Networks (Xu et al., KDD
2007): clusters, hubs and outliers from structural neighborhood similarity.

LPA and CC assign every vertex somewhere; SCAN is the community detector
that is allowed to say "this vertex belongs to nothing" — exactly the right
semantics for link graphs with hub actors (a tool vertex touching every
conversation is structurally similar to none of them):

    σ(u, v)   = |N[u] ∩ N[v]| / √(|N[u]|·|N[v]|)   (closed neighborhoods)
    ε-edge    : adjacent pair with σ ≥ ε
    core      : vertex with ≥ μ vertices in its ε-neighborhood (itself
                included — σ(u,u) = 1)
    cluster   : connected component of the core–core ε-edge subgraph
    border    : non-core adjacent (by ε-edge) to a core — joins the min
                cluster id among such cores (deterministic tie-break)
    outlier   : everything else

Exactness: σ ≥ ε is decided in pure integers — with c = |common open
neighbors| and closed sizes (d+1),

    (c + 2)² · 10⁶  ≥  εₚₘ² · (du + 1)(dv + 1)

(both sides < 2^46 on graphs to ~10^6-degree hubs), so the classification
is engine-exact; cluster ids are min-vid CC labels (the repo's canonical
relabeling). ε is permille, matching the other integer-threshold contracts.

Plan shape at 10^12 edges: the common-neighbor count is the triangle-family
wedge join (the σ numerator per EDGE — same join the truss/support operators
run); ε-degree is one map-side-combinable count keyed on vid; the core CC
runs on the ε-subgraph (strictly smaller than the input); border assignment
is one join from ε-edges onto core labels. Hubs never explode: a hub's σ
denominators are huge, so its incident ε-edges die early and it leaves the
clustering as a hub/outlier — skew self-limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cc import connected_components
from .universe import graph_input


def scan_clusters(
    edges: DataFrame,
    eps_permille: int,
    mu: int,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """→ (vid, role, cluster): role ∈ {'core','border','outlier'};
    cluster = min-vid component of the core subgraph (-1 for outliers)."""
    if not 0 < eps_permille <= 1000:
        raise ValueError(f"eps_permille must be in (0, 1000], got {eps_permille}")
    if mu < 2:
        raise ValueError(f"mu must be >= 2, got {mu}")
    edges, verts = graph_input(edges, vertices)
    e = (
        edges.select(
            F.least("src", "dst").cast("long").alias("src"),
            F.greatest("src", "dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # materialized once: the similarity, core and border plans and
        # connected_components' collect or collapse would otherwise each
        # re-run the distinct exchange
        .localCheckpoint(eager=True)
    )
    b = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = b.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("d"))
    com = (
        e.join(b.select(F.col("src").alias("src"), F.col("dst").alias("w")), "src")
        .join(
            b.select(F.col("src").alias("dst"), F.col("dst").alias("w")),
            ["dst", "w"],
            "left_semi",
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sim = (
        e.join(com, ["src", "dst"], "left")
        .join(deg.select(F.col("vid").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("vid").alias("dst"), F.col("d").alias("dd")), "dst")
        .select("src", "dst", (F.coalesce("c", F.lit(0)) + 2).alias("num"), "ds", "dd")
        .filter(
            F.col("num") * F.col("num") * 1_000_000
            >= F.lit(eps_permille * eps_permille) * (F.col("ds") + 1) * (F.col("dd") + 1)
        )
        .select("src", "dst")
    )
    epsdeg = (
        sim.select(F.col("src").alias("vid"))
        .union(sim.select(F.col("dst").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("en"))
    )
    if vertices is None:
        # self-loops are not part of the canonical edge set
        verts = deg.select("vid")
    core = epsdeg.filter(F.col("en") + 1 >= mu).select("vid")
    core_edges = sim.join(core.withColumnRenamed("vid", "src"), "src", "left_semi").join(
        core.withColumnRenamed("vid", "dst"), "dst", "left_semi"
    )
    comp = connected_components(core_edges.select("src", "dst"), vertices=core)
    # borders: non-core endpoint of an ε-edge whose other endpoint is core
    halves = sim.select(F.col("src").alias("vid"), F.col("dst").alias("nbr")).union(
        sim.select(F.col("dst").alias("vid"), F.col("src").alias("nbr"))
    )
    border = (
        halves.join(core.withColumnRenamed("vid", "nbr"), "nbr", "left_semi")
        .join(core, "vid", "left_anti")
        .join(comp.withColumnRenamed("vid", "nbr"), "nbr")
        .groupBy("vid")
        .agg(F.min("component").alias("bcluster"))
    )
    return (
        verts.join(comp.withColumnRenamed("component", "ccluster"), "vid", "left")
        .join(border, "vid", "left")
        .select(
            "vid",
            F.when(F.col("ccluster").isNotNull(), F.lit("core"))
            .when(F.col("bcluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("outlier"))
            .alias("role"),
            F.coalesce("ccluster", "bcluster", F.lit(-1)).cast("long").alias("cluster"),
        )
    )
