"""Eigenvector centrality — L1-normalized power iteration on A (symmetric).

The undirected counterpart of the repo's centrality family: PageRank damps
and degree-normalizes, Katz attenuates un-normalized path counts,
HITS alternates over the directed relation — eigenvector centrality is the
plain dominant-eigenvector score ``x ← normalize(A·x)`` over the
both-directions adjacency (Bonacich 1972). Semantics pinned exactly like
HITS (hits.py): synchronous iterations from the uniform vector, **L1
normalization** (a scalar SQL ``sum`` the DuckDB twin reproduces at the
contract's rounding), fixed iteration count, isolated vertices hold 0.

Execution IS a HITS half-step per iteration — one shuffled join + map-side
combinable sum + a driver-side scalar normalizer — reusing the same
``_spread``/``_l1`` relational kernels, so the plan shape (and its 100 TB
envelope: |E| contribution rows per iteration, AQE off inside the loop)
is identical to the audited HITS/PageRank superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .hits import _l1, _spread
from .universe import graph_input


def eigenvector_centrality(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    n_iter: int = 8,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, score) after exactly ``n_iter`` L1-normalized iterations."""
    spark = edges.sparkSession
    edges, universe = graph_input(edges, vertices)
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    with supersteps(spark, "eigenvector_centrality", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        universe = checkpoint(universe, -1)
        n = universe.count()
        if n == 0:
            return spark.createDataFrame([], "vid long, score double")
        x = checkpoint(universe.withColumn("score", F.lit(1.0 / n)), 0)
        for step in loop.steps(range(1, n_iter + 1)):
            x = checkpoint(_l1(universe, _spread(both, x, "src", "dst")), step)
            loop.done()
    return x.select("vid", "score")
