"""Personalized and weighted PageRank — seed-restart and edge-weighted
variants of the engine's PageRank family.

The seed-anchored variant of the engine's PageRank (pagerank.py): the
teleport vector is concentrated on a seed set S instead of uniform, so
scores measure proximity to S — the standard recommendation / related-
entity / local-community primitive over a link graph (Jeh & Widom, WWW
2002; on the transcript graph: "which turns live near the tool actors").

Semantics pinned for exact oracle reproducibility (fixed ``n_iter``
synchronous supersteps, same discipline as pagerank.py / hits.py):

- seed vector ``s(v) = 1/|S|`` for v ∈ S, else 0;
- ``r_0 = s``;
- ``r_i(v) = (1−d)·s(v) + d·( Σ_{u→v} r_{i−1}(u)/deg(u) + dm_{i−1}·s(v) )``
  where ``dm`` is the dangling mass (rank held by out-degree-0 vertices),
  returned to the *seeds* — the personalized dangling convention, so total
  mass stays 1 and isolated vertices leak back to S rather than to the
  uniform vector.

The DuckDB twin (``_ppr_chain`` in __spark_entry__.py) unrolls the same
schedule with the same parenthesization; results compare at 1e-8 rounding.

Plan shape per superstep (identical to the PageRank df kernel's): the
adjacency-with-degree relation is checkpointed once (static,
hash-partitioned + persisted), each iteration is one shuffled join of the
rank vector into it plus a map-side-combinable ``groupBy(dst)``; the
dangling mass is a scalar driver aggregate (bounded action). At 100 TB:
per-superstep shuffle = |E| contribution rows; the seed join is a
broadcast (seed sets are small by definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .pagerank import _prepare


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    n_iter: int = 10,
    directed: bool = False,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, rank): proximity to ``seeds`` after exactly ``n_iter``
    supersteps; ranks sum to 1."""
    spark = edges.sparkSession
    adj_deg, deg, universe, _ = _prepare(edges, vertices, directed)
    seed_ids = seeds.select(F.col("vid").cast("long").alias("vid")).distinct()

    with supersteps(spark, "personalized_pagerank", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        adj_deg = checkpoint(adj_deg.select("src", "dst", "deg"), -1)
        n_seeds = seed_ids.count()
        if n_seeds == 0:
            raise ValueError("personalized_pagerank needs a non-empty seed set")
        # every seed must exist in the universe, or its 1/|S| teleport share
        # silently vanishes and mass conservation breaks
        n_missing = seed_ids.join(universe, "vid", "left_anti").count()
        if n_missing:
            raise ValueError(
                f"{n_missing} seed vid(s) absent from the vertex universe — "
                "their teleport mass would be lost silently"
            )
        # static base: the seed-restart vector over the full vertex universe
        base = checkpoint(
            universe.join(F.broadcast(seed_ids.withColumn("is_seed", F.lit(True))), "vid", "left")
            .select(
                "vid",
                F.when(F.col("is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("s"),
            ),
            -1,
        )
        dangling = checkpoint(
            base.select("vid").join(deg.select(F.col("src").alias("vid")), "vid", "left_anti"), -1
        )
        # structural guard, as in the pagerank df kernel: skip the blocking
        # per-superstep scalar when no vertex dangles
        has_dangling = dangling.count() > 0
        r = checkpoint(base.select("vid", F.col("s").alias("rank")), 0)
        for step in loop.steps(range(1, n_iter + 1)):
            contrib = (
                adj_deg.join(r.withColumnRenamed("vid", "src"), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            )
            # dangling mass rides as a broadcast 1-row cross join (the
            # hits/salsa pattern) — no driver collect inside the loop
            out = base.join(contrib, "vid", "left")
            if has_dangling:
                dmc = r.join(dangling, "vid", "left_semi").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
                )
                out = out.crossJoin(F.broadcast(dmc))
                dm_col = F.col("dm")
            else:
                dm_col = F.lit(0.0)
            r = out.select(
                "vid",
                (
                    F.lit(1.0 - damping) * F.col("s")
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dm_col * F.col("s"))
                ).alias("rank"),
            )
            r = checkpoint(r, step)
            loop.done()
    return r


def weighted_pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    n_iter: int = 10,
    directed: bool = False,
    weight: str | None = None,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """Edge-weighted PageRank → (vid, rank): each vertex scatters rank
    proportionally to edge weight, ``r(u)·w(u,v)/W_out(u)`` instead of
    ``r(u)/deg(u)`` — the multigraph/affinity generalization (how *much*
    interaction an edge carries, not just that it exists).

    ``weight`` names a positive numeric edge-weight column; ``None``
    defaults to the deterministic vid-derived ``1 + (src + dst) % 5`` shared
    with :func:`~elektra_spark.operators.bfs.weighted_distance` and the
    DuckDB twin (``_wpr_chain``), so engine and oracle agree on the weight
    function by construction. Dangling mass (vertices with zero out-weight)
    redistributes uniformly, exactly as the uniform kernel does.

    Same superstep plan as the PageRank df kernel: the weighted adjacency
    (pre-normalized ``w/W_out`` once — one extra groupBy at prep, zero
    per-superstep cost) is checkpointed static; each iteration exchanges
    only the rank vector and runs one map-side-combinable ``groupBy(dst)``.
    """
    spark = edges.sparkSession
    w_expr = F.col(weight).cast("double") if weight else (
        F.lit(1) + (F.col("src") + F.col("dst")) % 5
    ).cast("double")
    fwd = edges.select("src", "dst", w_expr.alias("w"))
    if directed:
        adj = fwd
    else:
        adj = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    wout = adj.groupBy("src").agg(F.sum("w").alias("wout"))
    if vertices is not None:
        universe = vertices.select("vid")
    else:
        universe = (
            adj.select(F.col("src").alias("vid")).union(adj.select(F.col("dst").alias("vid"))).distinct()
        )

    with supersteps(spark, "weighted_pagerank", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        # share = w/W_out normalized once at prep; the superstep multiplies
        # rank by a ready scalar column instead of re-dividing by the sum
        adj_n = checkpoint(
            adj.join(wout, "src").select("src", "dst", (F.col("w") / F.col("wout")).alias("share")),
            -1,
        )
        universe = checkpoint(universe, -1)
        n = universe.count()
        if n == 0:
            return spark.createDataFrame([], "vid long, rank double")
        dangling = checkpoint(
            universe.join(wout.select(F.col("src").alias("vid")), "vid", "left_anti"), -1
        )
        has_dangling = dangling.count() > 0
        r = checkpoint(universe.withColumn("rank", F.lit(1.0 / n)), 0)
        for step in loop.steps(range(1, n_iter + 1)):
            contrib = (
                adj_n.join(r.withColumnRenamed("vid", "src"), "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum(F.col("rank") * F.col("share")).alias("contrib"))
            )
            # same broadcast-scalar pattern as personalized_pagerank above
            out = universe.join(contrib, "vid", "left")
            if has_dangling:
                dmc = r.join(dangling, "vid", "left_semi").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
                )
                out = out.crossJoin(F.broadcast(dmc))
                dm_term = F.col("dm") / F.lit(float(n))
            else:
                dm_term = F.lit(0.0)
            r = out.select(
                "vid",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dm_term)
                ).alias("rank"),
            )
            r = checkpoint(r, step)
            loop.done()
    return r
