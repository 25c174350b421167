"""Katz centrality — truncated Katz sum via synchronous power iteration.

Katz (Psychometrika 1953) over the *directed* edge relation:

    x_k(v) = beta + alpha * sum_{(u,v) in E} x_{k-1}(u),     x_0(v) = beta

After ``n_iter`` iterations this is exactly the path-count series
``beta * sum_{j<=n_iter} alpha^j * (#paths of length j ending at v)``
truncated at ``n_iter`` — a finite, deterministic value for any alpha, so
the fixed-iteration contract needs no spectral-radius bound (convergence
of the infinite series would; at the default alpha=0.05 the truncation
error is below the contract's 1e-8 rounding for any graph whose max
in-degree stays under 20/alpha^-1 per extra hop).

This completes the repo's centrality family next to PageRank (damped
degree-normalized flow, pagerank.py), personalized PageRank (seed-restart,
ppr.py), HITS (mutually-normalized hub/authority, hits.py) and landmark
harmonic centrality (bfs.py): Katz is the *un-normalized attenuated
path-count* — on the transcript link graph it scores a turn by how much
reply/tool structure feeds into it, without a hub's mass being divided
away by its fanout the way PageRank divides by out-degree. Reference
anchor: elektra's benchmark suite iterates whole-graph passes over the
batch-dynamic edge set (elektra/benchmark.h:1); Katz is the same
superstep shape re-expressed as a declarative rank-scatter join.

Execution per iteration is one shuffled join + map-side-combinable sum —
the exact plan shape of one PageRank df-kernel superstep (pagerank.py:727)
with *no* driver-side scalar at all (Katz has no dangling/normalizer
correction, so the loop never collects):

- the directed edge relation is checkpointed once (hash-partitioned +
  persisted; no re-exchange per iteration),
- the score vector joins to it on ``src`` and sums onto ``dst``
  (combinable: hub fan-in collapses map-side before the shuffle),
- the new vector is completed over the vertex universe with a left join
  (vertices with no in-edges hold the base score ``beta``).

At 100 TB: per-iteration shuffle volume = |E| contribution rows, identical
to one PageRank superstep; AQE stays off inside the fixed-shape loop so
the plan is stable across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .hits import _spread


def katz_centrality(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.05,
    beta: float = 1.0,
    n_iter: int = 6,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, katz) after exactly ``n_iter`` synchronous iterations."""
    spark = edges.sparkSession
    e = edges.select("src", "dst")
    if vertices is not None:
        universe = vertices.select("vid")
    else:
        universe = e.select(F.col("src").alias("vid")).union(e.select(F.col("dst").alias("vid"))).distinct()

    with supersteps(spark, "katz_centrality", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        e = checkpoint(e, -1)
        universe = checkpoint(universe, -1)
        x = checkpoint(universe.withColumn("score", F.lit(float(beta))), 0)
        for step in loop.steps(range(1, n_iter + 1)):
            inflow = _spread(e, x, "src", "dst")
            x = universe.join(inflow, "vid", "left").select(
                "vid",
                (F.lit(float(beta)) + F.lit(float(alpha)) * F.coalesce("raw", F.lit(0.0))).alias("score"),
            )
            x = checkpoint(x, step)
            loop.done()
    return x.select("vid", F.col("score").alias("katz"))
